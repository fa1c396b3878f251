"""The benchmark's workloads and the layer probes of their traced runs.

Each workload has the same shape:

- ``warmup()`` is its set-up job, timed into ``setup_s``;
- ``prepare()`` builds its inputs (untimed: generation, the DuckDB oracle);
- ``op()`` is one unit of timed work (encode + resume + verify of the
  corpus; one pass over the 20 headline queries);
- ``check(result)`` counts attempted and failed operations of that unit
  (untimed);
- ``stored_ratio()`` gives the bytes stored per token byte;
- ``named(work_s)`` gives the workload's figures under descriptive names;
- ``layers(work_s)`` runs the traced run's per-layer probes after the timed
  region.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

import pyspark.sql.functions as F

from bench import HEADLINE  # the headline queries, in bench.py's order
from perfbench import inputs, oracle
from perfbench.tracing import Tracer

CODECS = ("raw", "dict", "rle", "for", "dbp", "fsst", "gdelta")
# the regime each codec is built for (fixtures.py) — its microbenchmark input
CODEC_REGIME = {
    "raw": "random", "dict": "lowcard", "rle": "runs", "for": "narrow",
    "dbp": "monotonic", "fsst": "texty", "gdelta": "near-dup",
}
MICRO_SEED = 42  # the microbenchmark sample is the same in every run
MICRO_ROWS = 48


def roundtrip(spark, tracer, corpus_path: str, wh: str) -> dict:
    """Encode a parquet token table into the empty warehouse ``wh``, re-run
    the encode so every partition is skipped (resume), then verify every
    row bit for bit the way ``jobs/verify_job.py --mode local`` does.
    Returns the two encode summaries, the verified-row count and the
    encode / resume + verify wall times."""
    from gdelta_spark.pipeline import decode, partitioning, pyscan, warehouse

    t0 = time.perf_counter()
    with tracer.span("encode"):
        summary = warehouse.encode_and_commit(spark, corpus_path, wh)
    t1 = time.perf_counter()
    with tracer.span("warehouse.resume"):
        resume = warehouse.encode_and_commit(spark, corpus_path, wh)
    with tracer.span("decode.verify"):
        salted = partitioning.with_salt(
            pyscan.scan_tokens_binary(spark, corpus_path),
            partitioning.DEFAULT_GROUP_BYTES,
            stats_df=spark.read.parquet(corpus_path).select("n_tok", "source"),
        )
        agg = decode.verify_partition_local(
            salted, warehouse.Warehouse(wh).read_blocks(spark)
        ).agg(F.sum("n_rows").alias("rows"), F.sum("n_ok").alias("ok")).collect()[0]
    return {
        "summary": summary, "resume": resume, "ok": int(agg["ok"] or 0),
        "encode_s": t1 - t0, "verify_s": time.perf_counter() - t1,
    }


class _Workload:
    # a fixed minimum op count, not only a time window: op times fall over
    # the first ops of an application, so a median over a count that varies
    # with speed is bimodal across runs
    min_ops = 2
    single_pass = False

    def __init__(self, spark, tracer, seed: int, size: str, run_dir: Path):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = size
        self.run_dir = run_dir
        self.info: dict = {}


class EncodeVerify(_Workload):
    """Write path, then restart and read path, over the seeded corpus.

    One op encodes the corpus into an empty warehouse
    (``warehouse.encode_and_commit``: scan -> partitioning -> encode kernel
    -> commit), re-runs it so every partition is skipped (the resume path),
    then verifies every row bit for bit with ``decode.verify_partition_local``
    over ``with_salt(scan_tokens_binary)`` and ``Warehouse.read_blocks``, as
    ``jobs/verify_job.py --mode local`` does.
    """

    def warmup(self) -> None:
        """The set-up job: one round trip of a small fixed corpus (8 rows per
        regime) through the op's own calls, so the JVM has planned and
        compiled the write and read paths and every Python worker has
        imported the kernels before the first timed op."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gdelta_spark import fixtures

        scratch = self.run_dir / "warmup"
        pdf = fixtures.tokens_table_pandas(seed=0, rows_per_regime=8)
        table = pa.Table.from_pandas(pdf, preserve_index=False).cast(pa.schema([
            ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()), ("source", pa.string()),
        ]))
        (scratch / "corpus").mkdir(parents=True)
        pq.write_table(table, scratch / "corpus" / "part-0.parquet")
        r = roundtrip(self.spark, Tracer(False, ""), str(scratch / "corpus"), str(scratch / "wh"))
        shutil.rmtree(scratch, ignore_errors=True)
        if r["ok"] != len(pdf):
            raise RuntimeError(f"warmup round trip verified {r['ok']} of {len(pdf)} rows")

    def prepare(self) -> None:
        self.corpus = inputs.corpus(
            self.spark, self.seed, inputs.SIZES[self.size]["corpus_rows"]
        )
        self.info["corpus"] = {k: v for k, v in self.corpus.items() if k != "path"}
        self.input_digest = self.corpus["digest"]
        self.n_ops = 0
        self.encode_s: list[float] = []
        self.verify_s: list[float] = []
        self.stored: list[float] = []
        self.stored_balanced: list[float] = []
        self.last_wh: Path | None = None

    def _narrow(self):
        return self.spark.read.parquet(self.corpus["path"]).select("doc_id", "n_tok", "source")

    def op(self) -> dict:
        self.n_ops += 1
        wh = self.run_dir / f"wh{self.n_ops}"
        r = roundtrip(self.spark, self.tracer, self.corpus["path"], str(wh))
        self.encode_s.append(r["encode_s"])
        self.verify_s.append(r["verify_s"])
        return {**r, "wh": wh}

    def check(self, r: dict) -> tuple[int, int]:
        """Partitions without a manifest or with a manifest row count other
        than its input rows, plus rows not verified bit-identical."""
        from gdelta_spark.pipeline.warehouse import Warehouse

        manifests = Warehouse(str(r["wh"])).committed_manifests()
        parts, rows = r["summary"]["partitions"], self.corpus["rows"]
        good = sum(1 for m in manifests if m["n_rows"] == m["input_rows"])
        failed_parts = parts - min(good, parts)
        if sum(m["input_rows"] for m in manifests) != rows:
            failed_parts = max(failed_parts, 1)
        if r["resume"]["encoded"]:
            self.info.setdefault("errors", []).append(
                f"resume re-encoded {r['resume']['encoded']} partitions"
            )
        self.stored.append(inputs.dir_bytes(r["wh"]) / self.corpus["token_bytes"])
        self.stored_balanced.append(balanced_ratio(r["wh"], self.corpus))
        if self.last_wh is not None:
            shutil.rmtree(self.last_wh, ignore_errors=True)
        self.last_wh = r["wh"]
        self.info["partitions"] = parts
        return parts + rows, failed_parts + rows - min(r["ok"], rows)

    def stored_ratio(self) -> float:
        return statistics.median(self.stored_balanced)

    def named(self, work_s: float) -> dict:
        gb = self.corpus["token_bytes"] / 1e9
        return {
            "encode_gbps": gb / statistics.median(self.encode_s),
            "verify_gbps": gb / statistics.median(self.verify_s),
            "stored_bytes_per_token_byte": statistics.median(self.stored),
            "stored_bytes_per_token_byte_regime_balanced": self.stored_ratio(),
        }

    def layers(self, work_s: float) -> dict:
        from gdelta_spark.codecs import core
        from gdelta_spark.pipeline import decode, encode, partitioning, pyscan, warehouse

        spark, tr, path = self.spark, self.tracer, self.corpus["path"]
        gb = partitioning.DEFAULT_GROUP_BYTES
        n_kernel = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with tr.span("pyscan.scan"):
            pyscan.scan_tokens_binary(spark, path).agg(F.sum(F.length("tok_bytes"))).collect()
        with tr.span("partitioning.salt_shuffle"):
            partitioning.with_salt(
                pyscan.scan_tokens_binary(spark, path), gb, stats_df=self._narrow()
            ).repartition(n_kernel, "part_id").agg(F.sum(F.length("tok_bytes"))).collect()
        groups = (
            partitioning.with_salt(self._narrow(), gb, stats_df=self._narrow())
            .groupBy("part_id").agg((F.sum("n_tok") * 4).alias("b"))
            .agg(F.count("*").alias("n"), F.max("b").alias("max_b")).collect()[0]
        )
        for span, force in (("encode.kernel_floor", core.RAW), ("encode.kernel", None)):
            with tr.span(span):
                encode.encode_blocks_bin(
                    pyscan.scan_tokens_binary(spark, path), force_codec=force,
                    stats_df=self._narrow(),
                ).agg(F.sum("enc_bytes")).collect()
        blocks_df = lambda: warehouse.Warehouse(str(self.last_wh)).read_blocks(spark)  # noqa: E731
        with tr.span("decode.read_blocks"):
            blocks_df().agg(F.sum(F.length("blob"))).collect()
        with tr.span("decode.decode"):
            decode.decode_tokens_bytes(blocks_df()).agg(F.sum(F.length("tok_bytes"))).collect()
        kernel_s = tr.total("encode.kernel")
        return {
            "pyscan.scan_s": tr.total("pyscan.scan"),
            "partitioning.salt_shuffle_s": tr.total("partitioning.salt_shuffle"),
            "partitioning.groups": groups["n"],
            "partitioning.max_group_mb": groups["max_b"] / (1 << 20),
            "encode.kernel_floor_s": tr.total("encode.kernel_floor"),
            "encode.kernel_s": kernel_s,
            "chooser.choose_ms": self._choose_ms(),
            "warehouse.commit_s": statistics.median(tr.durations("encode")) - kernel_s,
            "warehouse.resume_s": statistics.median(tr.durations("warehouse.resume")),
            "decode.read_blocks_s": tr.total("decode.read_blocks"),
            "decode.decode_s": tr.total("decode.decode"),
            "decode.verify_s": statistics.median(tr.durations("decode.verify")),
            **codec_table(self.last_wh),
            **codec_micro(),
        }

    def _choose_ms(self) -> float:
        """In-process ``choose_codec`` over each encode group's sample, the
        call ``encode._encode_group`` makes once per group."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from gdelta_spark import chooser
        from gdelta_spark.pipeline import partitioning

        gb = partitioning.DEFAULT_GROUP_BYTES
        heads = (
            partitioning.with_salt(self._narrow(), gb, stats_df=self._narrow())
            .groupBy("part_id").agg(F.slice(F.sort_array(F.collect_list("doc_id")), 1, 64).alias("ids"))
            .collect()
        )
        wanted = {d for r in heads for d in r["ids"]}
        t = pq.read_table(self.corpus["path"], columns=["doc_id", "tokens"])
        t = t.filter(pc.is_in(t.column("doc_id"), value_set=pa.array(sorted(wanted))))
        rows = {
            d: np.asarray(tok, dtype="<i4")
            for d, tok in zip(t.column("doc_id").to_pylist(), t.column("tokens").to_pylist())
        }
        total = 0.0
        for r in heads:
            arrays = [rows[d] for d in r["ids"]]
            sample = np.concatenate(arrays)[: chooser.SAMPLE_TOKENS * 4]
            probe = arrays[1:4] if len(arrays) > 1 else arrays[:1]
            t0 = time.perf_counter()
            chooser.choose_codec(sample, probe, arrays[0].tobytes())
            total += time.perf_counter() - t0
        return total * 1e3


class Queries(_Workload):
    """One cold pass over the 20 headline queries (LLM-pipeline operators)."""

    single_pass = True

    def warmup(self) -> None:
        """The set-up job: one task per core, each importing the encode and
        decode kernels in its Python worker, so worker start-up and the
        kernel imports are paid in set-up. Nothing else is warmed: no query
        plan or session cache, so the pass stays as cold as ``bench.py``'s
        one pass per application."""
        n = self.spark.sparkContext.defaultParallelism

        def load(batches):
            import gdelta_spark.pipeline.decode  # noqa: F401
            import gdelta_spark.pipeline.encode  # noqa: F401

            yield from batches

        df = self.spark.range(0, n, numPartitions=n).mapInPandas(load, "id long")
        got = df.agg(F.count("*")).first()[0]
        if got != n:
            raise RuntimeError(f"warmup job returned {got} of {n} rows")

    def prepare(self) -> None:
        import tempfile

        import __spark_entry__ as entry_mod

        self.data = inputs.queries_dataset(self.size)
        self.sf = self.data["path"]
        self.info["dataset"] = {k: v for k, v in self.data.items() if k != "path"}
        self.input_digest = self.data["digest"]
        self.expected = oracle.expected_hashes(self.data, HEADLINE)
        self.docs_per_source = oracle.docs_per_source(self.sf)
        # the streaming queries' scratch directories stay inside the checkout
        tmp = str(inputs.WORK / "tmp")
        entry_mod._stream_tmpdir = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=tmp)
        self.qs = entry_mod.queries()
        self.plan_s = 0.0
        self.jobs: dict[str, int] = {}

    def op(self) -> dict:
        results, errors = {}, {}
        tracker = self.spark.sparkContext.statusTracker()
        for q in HEADLINE:
            with self.tracer.span(f"query.{q}"):
                t0 = time.perf_counter()
                try:
                    df = self.qs[q](self.spark, self.sf)
                    self.plan_s += time.perf_counter() - t0
                    results[q] = df.toPandas()
                except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
                    errors[q] = f"{type(exc).__name__}: {exc}"[:500]
            if self.tracer.enabled:
                self.jobs[q] = len(tracker.getJobIdsForGroup(f"query.{q}"))
        return {"results": results, "errors": errors}

    def check(self, r: dict) -> tuple[int, int]:
        bad = dict(r["errors"])
        for q, pdf in r["results"].items():
            if q == "compression_summary":
                got = pdf.groupby("source")["n_rows"].sum().astype(int).to_dict()
                if got != self.docs_per_source:
                    bad[q] = "per-source n_rows differ from the documents count"
            elif oracle.result_hash(pdf) != self.expected[q]:
                bad[q] = "hash differs from the DuckDB oracle"
        if bad:
            self.info["errors"] = bad
        summary = r["results"].get("compression_summary")
        self.ratio = (
            float(summary["enc_bytes"].sum() / summary["raw_bytes"].sum())
            if summary is not None else float("nan")
        )
        return len(HEADLINE), len(bad)

    def stored_ratio(self) -> float:
        return self.ratio

    def named(self, work_s: float) -> dict:
        return {"queries_s": work_s, "stored_bytes_per_token_byte": self.ratio}

    def layers(self, work_s: float) -> dict:
        out = {"queries.plan_s": self.plan_s}
        for q in HEADLINE:
            out[f"query.{q}.s"] = self.tracer.total(f"query.{q}")
            out[f"query.{q}.jobs"] = self.jobs.get(q, 0)
        return out


WORKLOADS = {"encode_verify": EncodeVerify, "queries": Queries}


def balanced_ratio(wh: Path, corpus: dict) -> float:
    """On-disk warehouse bytes (blocks + manifests) per token byte with every
    regime weighted equally: the mean over regimes of each regime's stored
    bytes per token byte. Unlike the plain ratio, this does not swing with
    the seed's regime mix (the incompressible ``random`` regime's byte share
    moves the plain ratio by a quarter across seeds).

    Partitions never mix sources, and ``partitioning.with_salt`` builds a
    ``part_id`` of ``source/bucket/salt``: a blocks file belongs to the
    regime of the ``part_id`` it holds, and the manifest bytes are shared
    out by each regime's count of committed manifests."""
    import pyarrow.parquet as pq

    from gdelta_spark.pipeline.warehouse import Warehouse

    shares = corpus["regime_byte_shares"]
    stored = dict.fromkeys(shares, 0.0)
    w = Warehouse(str(wh))
    for f in Path(w.blocks_dir).glob("*.parquet"):
        part_ids = pq.read_table(f, columns=["part_id"]).column("part_id").unique()
        if len(part_ids) != 1:
            raise AssertionError(f"{f} holds {len(part_ids)} partitions")
        stored[part_ids[0].as_py().split("/", 1)[0]] += f.stat().st_size
    manifests = w.committed_manifests()
    per_manifest = inputs.dir_bytes(w.manifest_dir) / len(manifests)
    for m in manifests:
        stored[m["part_id"].split("/", 1)[0]] += per_manifest
    return statistics.fmean(stored[r] / (corpus["token_bytes"] * shares[r]) for r in shares)


def codec_table(wh: Path) -> dict:
    """Exact per-codec block counts and bytes, and the entropy-backstop
    counts, read from a committed warehouse's blocks table."""
    import pyarrow.parquet as pq

    from gdelta_spark import blocks

    out = {f"codecs.{c}.{k}": 0.0 for c in CODECS for k in ("blocks", "raw_mb", "enc_mb")}
    attempts = hits = saved = 0
    t = pq.read_table(str(wh / "blocks"), columns=["block_id", "codec", "raw_bytes", "blob"])
    for block_id, codec, raw, blob in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        name = codec if block_id >= 0 else blocks.block_codec_name(blob)
        out[f"codecs.{name}.blocks"] += 1
        out[f"codecs.{name}.raw_mb"] += raw / (1 << 20)
        out[f"codecs.{name}.enc_mb"] += len(blob) / (1 << 20)
        wrapped = blob[1] == blocks.BLOCK_VERSION_Z
        if name != "raw" and (wrapped or len(blob) > 64):
            attempts += 1
        if wrapped:
            hits += 1
            saved += len(blocks._unwrap(blob)) - len(blob)
    out.update({
        "blocks.backstop_attempts": attempts,
        "blocks.backstop_hits": hits,
        "blocks.backstop_saved_mb": saved / (1 << 20),
    })
    return out


def codec_micro(min_s: float = 0.1) -> dict:
    """One-core encode and decode MB/s of each codec through the block
    layer (``blocks.encode_block_rows`` / ``decode_block_rows``), on a
    fixed sample of the regime the codec is built for."""
    import numpy as np

    from gdelta_spark import blocks, fixtures
    from gdelta_spark.codecs import core

    def rate(fn, nbytes: int) -> float:
        times = []
        while len(times) < 3 or sum(times) < min_s:
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return nbytes / (1 << 20) / statistics.median(times)

    out = {}
    for c in CODECS:
        rows = [fixtures.make_tokens(MICRO_SEED, CODEC_REGIME[c], i) for i in range(MICRO_ROWS)]
        base = None
        if c == "gdelta":
            base, rows = rows[0].astype("<i4").tobytes(), rows[1:]
        rows_bytes = [r.astype("<i4").tobytes() for r in rows]
        nbytes = sum(len(b) for b in rows_bytes)
        cid = core.CODEC_IDS[c]
        blob, _ = blocks.encode_block_rows(rows, codec_id=cid, base=base, rows_bytes=rows_bytes)
        out[f"codecs.{c}.encode_mbps"] = rate(
            lambda: blocks.encode_block_rows(rows, codec_id=cid, base=base, rows_bytes=rows_bytes),
            nbytes,
        )
        out[f"codecs.{c}.decode_mbps"] = rate(lambda: blocks.decode_block_rows(blob, base=base), nbytes)
        if not all(np.array_equal(a, b) for a, b in zip(blocks.decode_block_rows(blob, base=base), rows)):
            raise AssertionError(f"codec microbenchmark: {c} did not round-trip")
    return out
