"""Seeded, fingerprinted benchmark inputs, cached inside the checkout.

Two input families:

- the token corpus of the ``encode_verify`` workload: the 8-regime
  fixture corpus written by ``pipeline.generator.write_tokens_table`` from
  the run's seed;
- the documents / embeddings / events tables of the ``queries`` workload:
  byte-identical copies of those tables of the sf0.1 and sf0.001 test
  datasets (fixed, generated with seed 42) in ``perfbench/data``, so every
  queries run sees the same data whatever its seed argument.

The corpus is cached under ``.bench_work/cache`` keyed by its parameters
and by a digest of the source files that generate it, so an edit to
``fixtures.py`` produces a new input (and a new content digest in the
result) rather than a silently reused one.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
CACHE = WORK / "cache"
KEEP_CACHED = 6  # newest entries of each kind kept on disk

DATA = Path(__file__).resolve().parent / "data"
QUERIES_SEED = 42  # the seed the sf test datasets were generated with
SIZES = {
    # rows_per_regime of the token corpus; the queries dataset
    "full": {"corpus_rows": 600, "sf": "sf0.1"},
    "smoke": {"corpus_rows": 40, "sf": "sf0.001"},
}


def source_digest(*rel_paths: str) -> str:
    """sha256 over repository source files (a directory counts all its .py
    files), so cache keys change when the code that makes an input does."""
    h = hashlib.sha256()
    for rel in rel_paths:
        p = ROOT / rel
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def _key(**parts) -> str:
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:16]


def _cached(kind: str, key: str, build) -> Path:
    """Directory ``CACHE/<kind>-<key>``, built by ``build(tmp_dir)`` into a
    temporary name and renamed into place, so an interrupted build never
    leaves a half-written entry behind."""
    final = CACHE / f"{kind}-{key}"
    if final.is_dir():
        os.utime(final)
        return final
    CACHE.mkdir(parents=True, exist_ok=True)
    tmp = CACHE / f".tmp-{kind}-{uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    old = sorted(CACHE.glob(f"{kind}-*"), key=lambda p: p.stat().st_mtime)
    for stale in old[:-KEEP_CACHED]:
        shutil.rmtree(stale, ignore_errors=True)
    return final


# -- token corpus -------------------------------------------------------------


def corpus(spark, seed: int, rows_per_regime: int) -> dict:
    """Path and fingerprint of the seeded fixture corpus (cached)."""
    from gdelta_spark import fixtures
    from gdelta_spark.pipeline import generator

    n_files = 2 * spark.sparkContext.defaultParallelism
    key = _key(
        seed=seed, rows=rows_per_regime, regimes=list(fixtures.REGIMES),
        files=n_files,
        src=source_digest("gdelta_spark/fixtures.py", "gdelta_spark/pipeline/generator.py"),
    )

    def build(tmp: Path) -> None:
        data = tmp / "data"
        generator.write_tokens_table(
            spark, str(data), rows_per_regime, seed=seed, num_partitions=n_files
        )
        (tmp / "meta.json").write_text(json.dumps(_corpus_meta(data)))

    entry = _cached("corpus", key, build)
    meta = json.loads((entry / "meta.json").read_text())
    return {"path": str(entry / "data"), "key": key, **meta}


def _corpus_meta(data: Path) -> dict:
    """Row count, token bytes, per-regime byte shares and a content digest
    over (doc_id, token bytes) in doc_id order — independent of how the
    rows were split into files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(str(data), columns=["doc_id", "tokens", "source"])
    t = t.take(pc.sort_indices(t, sort_keys=[("doc_id", "ascending")]))
    toks = t.column("tokens").combine_chunks()
    values = toks.values.to_numpy().astype("<i4", copy=False)
    offsets = toks.offsets.to_numpy()
    h = hashlib.sha256()
    by_source: dict[str, int] = {}
    for i, (doc_id, src) in enumerate(
        zip(t.column("doc_id").to_pylist(), t.column("source").to_pylist())
    ):
        b = values[offsets[i] : offsets[i + 1]].tobytes()
        h.update(doc_id.encode() + b"\0" + len(b).to_bytes(8, "little") + b)
        by_source[src] = by_source.get(src, 0) + len(b)
    total = sum(by_source.values())
    return {
        "rows": t.num_rows,
        "token_bytes": total,
        "regime_byte_shares": {s: by_source[s] / total for s in sorted(by_source)},
        "digest": h.hexdigest(),
    }


def dir_bytes(path: str | Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


# -- queries dataset ----------------------------------------------------------


def queries_dataset(size: str) -> dict:
    """Directory holding the documents / embeddings / events tables of the
    sf test data (seed 42) that the headline queries read, after checking
    every file against ``data/SHA256SUMS``."""
    sf = SIZES[size]["sf"]
    sums = {}
    for line in (DATA / "SHA256SUMS").read_text().splitlines():
        digest, rel = line.split()
        if rel.startswith(f"{sf}/"):
            sums[rel] = digest
    h = hashlib.sha256()
    for rel, digest in sorted(sums.items()):
        got = hashlib.sha256((DATA / rel).read_bytes()).hexdigest()
        if got != digest:
            raise RuntimeError(f"{DATA / rel}: sha256 {got}, expected {digest}")
        h.update(f"{digest}  {rel}\n".encode())
    return {"path": str(DATA / sf), "sf": sf, "seed": QUERIES_SEED, "digest": h.hexdigest()}
