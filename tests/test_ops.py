"""Operational surfaces: fsck repair, partition-local verify, decode job."""

from __future__ import annotations

import os
from pathlib import Path

import pyspark.sql.functions as F

from gdelta_spark import fixtures
from gdelta_spark.pipeline import decode as decode_mod
from gdelta_spark.pipeline import generator, partitioning, serde, warehouse

REPO = Path(__file__).resolve().parent.parent


def test_fsck_and_partition_local_verify(spark, tmp_path):
    root = str(tmp_path / "wh")
    tokens = generator.tokens_table(spark, rows_per_regime=16, num_partitions=4)
    tokens.cache().count()
    s = warehouse.encode_and_commit(spark, tokens, root, group_bytes=4 << 20)
    assert s["encoded"] > 0

    wh = warehouse.Warehouse(root)

    # partition-local verify: cogroup source + blocks on part_id
    bin_df = serde.serialize_tokens(tokens, keep=("doc_id", "n_tok", "source"))
    salted = partitioning.with_salt(bin_df, 4 << 20)
    report = decode_mod.verify_partition_local(salted, wh.read_blocks(spark))
    rows = report.collect()
    assert sum(r["n_rows"] for r in rows) == tokens.count()
    assert all(r["n_ok"] == r["n_rows"] for r in rows), rows[:3]

    # fsck: orphan manifest (data file removed) and orphan data (manifest
    # removed) are both repaired
    manifests = sorted(os.listdir(os.path.join(root, "manifests")))
    datafiles = sorted(os.listdir(os.path.join(root, "blocks")))
    os.remove(os.path.join(root, "blocks", datafiles[0]))
    os.remove(os.path.join(root, "manifests", manifests[-1]))
    r = wh.fsck()
    assert len(r["dropped_manifests"]) == 1
    assert len(r["dropped_data"]) == 1
    # after fsck, a re-run re-encodes exactly the two broken partitions
    s2 = warehouse.encode_and_commit(spark, tokens, root, group_bytes=4 << 20)
    assert s2["encoded"] == 2
    final = decode_mod.verify_roundtrip(tokens, wh.read_blocks(spark))
    assert final.filter(~F.col("ok")).count() == 0


def test_decode_job_cli(spark, tmp_path):
    import json
    import subprocess
    import sys

    inp = str(tmp_path / "tokens")
    root = str(tmp_path / "wh")
    out = str(tmp_path / "decoded")
    generator.write_tokens_table(spark, inp, rows_per_regime=8, num_partitions=2)
    r = subprocess.run(
        [sys.executable, "jobs/encode_job.py", "--input", inp, "--warehouse", root,
         "--group-mb", "4", "--master", "local[4]"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    r = subprocess.run(
        [sys.executable, "jobs/decode_job.py", "--warehouse", root, "--output", out,
         "--master", "local[4]"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    assert json.loads(line)["rows"] == 8 * len(fixtures.REGIMES)
    # decoded table matches source exactly
    src = spark.read.parquet(inp).select("doc_id", "tokens")
    dec = spark.read.parquet(out).withColumnRenamed("tokens", "t2")
    bad = src.join(dec, "doc_id", "full").filter(~F.expr("tokens <=> t2")).count()
    assert bad == 0


def test_verify_job_cli_local_mode(spark, tmp_path):
    import json
    import subprocess
    import sys

    inp = str(tmp_path / "tokens")
    root = str(tmp_path / "wh")
    generator.write_tokens_table(spark, inp, rows_per_regime=8, num_partitions=2)
    r = subprocess.run(
        [sys.executable, "jobs/encode_job.py", "--input", inp, "--warehouse", root,
         "--group-mb", "4", "--master", "local[4]"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    # partition-local verify (default): cogroup on part_id, no doc_id shuffle
    r = subprocess.run(
        [sys.executable, "jobs/verify_job.py", "--input", inp, "--warehouse", root,
         "--group-mb", "4", "--master", "local[4]"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert out == {"rows": 8 * len(fixtures.REGIMES), "mismatches": 0, "ok": True}


def test_verify_job_cli_fails_on_missing_blocks_file(spark, tmp_path):
    """A warehouse with one committed blocks file removed: verify_job exits
    1 and reports exactly that part's rows as mismatches."""
    import json
    import subprocess
    import sys

    import pyarrow.parquet as pq

    inp = str(tmp_path / "tokens")
    root = str(tmp_path / "wh")
    generator.write_tokens_table(spark, inp, rows_per_regime=8, num_partitions=2)
    warehouse.encode_and_commit(spark, inp, root, group_bytes=4 << 20)
    blocks_dir = os.path.join(root, "blocks")
    gone = os.path.join(blocks_dir, sorted(os.listdir(blocks_dir))[0])
    t = pq.read_table(gone, columns=["block_id", "n_rows"])
    n_gone = sum(n for b, n in zip(t["block_id"].to_pylist(), t["n_rows"].to_pylist()) if b >= 0)
    assert n_gone > 0
    os.remove(gone)
    r = subprocess.run(
        [sys.executable, "jobs/verify_job.py", "--input", inp, "--warehouse", root,
         "--group-mb", "4", "--master", "local[4]"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 1, r.stderr[-1500:]
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert out == {"rows": 8 * len(fixtures.REGIMES), "mismatches": n_gone, "ok": False}


def test_manifest_compaction(spark, tmp_path):
    """JSON manifests fold into one parquet manifest table; resume, fsck and
    re-commit semantics are unchanged afterwards (the 10^6-partition seam
    from SCALE.md)."""
    import os

    root = str(tmp_path / "wh")
    tokens = generator.tokens_table(spark, rows_per_regime=12, num_partitions=4)
    tokens.cache().count()
    s = warehouse.encode_and_commit(spark, tokens, root, group_bytes=1 << 20)
    assert s["encoded"] > 2

    wh = warehouse.Warehouse(root)
    before = wh.committed_manifests()
    r = wh.compact_manifests()
    assert r["folded"] == len(before) and r["total"] == len(before)
    jsons = [n for n in os.listdir(os.path.join(root, "manifests")) if n.endswith(".json")]
    assert jsons == []
    assert wh.committed_manifests() == sorted(before, key=lambda m: m["part_id"])

    # resume still skips everything
    s2 = warehouse.encode_and_commit(spark, tokens, root, group_bytes=1 << 20)
    assert s2["encoded"] == 0 and s2["skipped"] == s["partitions"]

    # fsck repairs a table-entry manifest whose data file disappeared
    datafiles = sorted(os.listdir(os.path.join(root, "blocks")))
    os.remove(os.path.join(root, "blocks", datafiles[0]))
    rep = wh.fsck()
    assert len(rep["dropped_manifests"]) == 1
    s3 = warehouse.encode_and_commit(spark, tokens, root, group_bytes=1 << 20)
    assert s3["encoded"] == 1
    # second compaction folds the re-commit's JSON back in
    r2 = wh.compact_manifests()
    assert r2["folded"] == 1 and r2["total"] == s["partitions"]


def test_encode_compacts_manifests_automatically(spark, tmp_path, monkeypatch):
    """Once COMPACT_AT_JSONS manifests accumulate, encode_and_commit folds
    them into the manifest table itself; resume reads the table alone."""
    root = str(tmp_path / "wh")
    tokens = generator.tokens_table(spark, rows_per_regime=8, num_partitions=2)
    tokens.cache().count()
    monkeypatch.setattr(warehouse, "COMPACT_AT_JSONS", 2)
    s = warehouse.encode_and_commit(spark, tokens, root, group_bytes=1 << 20)
    assert s["encoded"] > 2

    wh = warehouse.Warehouse(root)
    assert [n for n in os.listdir(wh.manifest_dir) if n.endswith(".json")] == []
    assert len(wh.committed_manifests()) == s["partitions"]
    s2 = warehouse.encode_and_commit(spark, tokens, root, group_bytes=1 << 20)
    assert s2["encoded"] == 0 and s2["skipped"] == s["partitions"]


def test_encode_empty_input_commits_nothing(spark, tmp_path):
    """An empty tokens table resolves to zero partitions (both resume counts
    are observed on a job that reads no rows) and commits nothing."""
    empty = spark.createDataFrame([], "doc_id string, tokens array<int>, n_tok int, source string")
    root = str(tmp_path / "wh")
    s = warehouse.encode_and_commit(spark, empty, root)
    assert s == {"partitions": 0, "encoded": 0, "skipped": 0}
    assert warehouse.Warehouse(root).committed_manifests() == []


def test_min_label_components_chain_vs_greedy(spark):
    """A chain a~b~c must keep exactly one survivor under connected
    components (greedy pairwise dropping would drop both b and c — the
    round-2 VERDICT's transitive-survivorship gap)."""
    from gdelta_spark.ops.dedup import min_label_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    labels = {r["doc_id"]: r["label"] for r in min_label_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}
    survivors = sorted(d for d, l in labels.items() if d == l)
    assert survivors == [1, 10, 20]


def test_planes_for_bounds_bucket_width():
    """The banded-LSH sizing rule: r = ceil(log2(n/W)) planes per band keeps
    the EXPECTED bucket width <= W (uniform-signature model), so candidate
    self-join work is O(n * W) per band at any corpus size."""
    from gdelta_spark.ops.ann import planes_for

    for n in (10**3, 10**6, 10**9, 10**12):
        r = planes_for(n, target_width=1024)
        assert n / (2**r) <= 1024, (n, r)
        # and not absurdly oversized (within one doubling of the target)
        assert n / (2**r) > 256 or n <= 1024 * 512, (n, r)
    assert planes_for(10**12, 1024) == 30
    assert planes_for(1, 1024) == 1  # degenerate corpora stay valid


def test_query_job_cli(tmp_path):
    """Every registered query is runnable standalone via jobs/query_job.py
    (the switch-from-the-reference CLI story); --list tags hash-checked vs
    rows-only, and a real run writes parquet."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, str(repo / "jobs" / "query_job.py"), "--list"],
        capture_output=True, text=True, check=True,
    )
    assert "ann_topk" in out.stdout and "[hash-checked]" in out.stdout
    assert "compression_summary" in out.stdout and "[rows-only]" in out.stdout

    dest = tmp_path / "q.parquet"
    out = subprocess.run(
        [
            sys.executable, str(repo / "jobs" / "query_job.py"),
            "--query", "dedup_exact", "--sf-dir", "/root/testdata/sf0.001",
            "--master", "local[4]", "--show", "0", "--out", str(dest),
        ],
        capture_output=True, text=True, check=True,
    )
    assert "query=dedup_exact rows=20" in out.stdout
    assert dest.exists()


def test_ann_index_build_and_search(spark, tmp_path):
    """Persisted IVF index: build writes codebook + cells parquet; search
    over the index reproduces the direct answers exactly (same codebook,
    same tie-breaks) without retraining: ann_ivf_topk at nprobe=1 and
    ann_ivf_nprobe2 at nprobe=2."""
    from jobs.ann_index_job import build_index, search_index
    from gdelta_spark.ops import ann

    sf = "/root/testdata/sf0.001"
    idx = str(tmp_path / "ivf")
    info = build_index(spark, sf, idx)
    assert info["n_vectors"] == 500
    assert sum(info["cells"].values()) == 500

    got = search_index(spark, idx, list(range(10)), nprobe=1, k=5).collect()
    want = ann.ann_ivf_topk(spark, sf).select(
        "query_id", "neighbor_id", "dot", "rnk"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    got2 = search_index(spark, idx, list(range(10)), nprobe=2, k=5).collect()
    want2 = ann.ann_ivf_nprobe2(spark, sf).collect()
    assert len(want2) == 50
    assert [tuple(r) for r in got2] == [tuple(r) for r in want2]


def test_min_label_components_long_chain(spark):
    """Adversarial-chain case (round-3 VERDICT #4): a 301-node path has
    diameter 300 — plain min-label propagation would need 300 rounds and
    hit the 50-round cap; pointer doubling must converge well under it."""
    from gdelta_spark.ops.dedup import min_label_components

    n = 301
    ids = [f"d{i:04d}" for i in range(n)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    labels = {r["doc_id"]: r["label"] for r in min_label_components(pairs).collect()}
    assert len(labels) == n
    assert set(labels.values()) == {ids[0]}


def test_min_label_components_two_components(spark):
    from gdelta_spark.ops.dedup import min_label_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z"), ("z", "x")],
        ["doc_a", "doc_b"],
    )
    labels = {r["doc_id"]: r["label"] for r in min_label_components(pairs).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_sizing_rules():
    """The corpus-sizing rules (IVF cells, training sample stride, LSH
    planes) — pure functions, pinned here so a refactor can't silently
    change the oracle-matched behavior."""
    from gdelta_spark.ops.ann import cells_for, km_sample_step, nprobe_for, planes_for

    assert cells_for(500) == 8  # sf0.01: floor keeps the minimum
    assert cells_for(2000) == 32  # sf0.1 exercises the rule
    assert cells_for(10**9) == 15_625_000  # k = ceil(n/64)
    assert km_sample_step(500) == 2  # sampling exercised at sf0.01
    assert km_sample_step(256) == 1
    assert km_sample_step(2000) == 2  # sample ~32/centroid (1024 at k=32)
    assert km_sample_step(10**9) == 2  # 32/centroid scales with k
    assert planes_for(500) == 6  # sf0.01
    assert planes_for(2000) == 8  # sf0.1
    assert planes_for(10**12) == 30  # R_MAX clamp (int32 signatures)
    assert planes_for(1) == 1
    assert nprobe_for(8) == 3  # ceil(sqrt(k))
    assert nprobe_for(32) == 6
    assert nprobe_for(16) == 4
    assert nprobe_for(1) == 1


def test_committed_df_json_wins_over_table(spark, tmp_path):
    """The distributed manifest read must honor commit ordering: a JSON
    manifest (newer) overrides the compacted table's entry for the same
    part_id — a stale table row would make resume skip a partition whose
    content changed."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdelta_spark.pipeline.warehouse import Warehouse, _mname

    root = str(tmp_path / "wh")
    wh = Warehouse(root)
    stale = [
        {"part_id": "p/a", "key_hash": 1, "key_sum": 10, "input_rows": 5},
        {"part_id": "p/b", "key_hash": 2, "key_sum": 20, "input_rows": 6},
    ]
    pq.write_table(pa.Table.from_pylist(stale), wh.table_path)
    fresh = {"part_id": "p/a", "key_hash": 99, "key_sum": 990, "input_rows": 7}
    with open(os.path.join(wh.manifest_dir, _mname("p/a")), "w") as f:
        _json.dump(fresh, f)
    got = {r["part_id"]: r.asDict() for r in wh.committed_df(spark).collect()}
    assert got["p/a"] == {"part_id": "p/a", "key_hash": 99, "key_sum": 990, "input_rows": 7}
    assert got["p/b"]["key_hash"] == 2  # table entry without a JSON override survives
    assert len(got) == 2


def test_committed_df_hidden_source_and_corrupt_json(spark, tmp_path):
    """(r4 ADVICE) Two divergence hazards between the distributed
    committed_df read and the driver-side committed_manifests():
    1. a part_id starting with '_' must not produce a hidden JSON file
       Spark's path filter would silently drop;
    2. a corrupt/partial JSON must not parse as an all-null row that
       overrides a valid compacted-table entry via max_by('_src')."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdelta_spark.pipeline.warehouse import Warehouse, _mname

    root = str(tmp_path / "wh")
    wh = Warehouse(root)

    # hazard 1: hidden-prefix source name
    hidden_part = "_raw/bucket=0"
    assert not _mname(hidden_part).startswith(("_", "."))
    m = {"part_id": hidden_part, "key_hash": 7, "key_sum": 70, "input_rows": 3}
    with open(os.path.join(wh.manifest_dir, _mname(hidden_part)), "w") as f:
        _json.dump(m, f)

    # hazard 2: valid table entry + corrupt JSON for the same part
    pq.write_table(
        pa.Table.from_pylist(
            [{"part_id": "p/c", "key_hash": 5, "key_sum": 50, "input_rows": 9}]
        ),
        wh.table_path,
    )
    with open(os.path.join(wh.manifest_dir, "m-garbage.json"), "w") as f:
        f.write('{"part_id": "p/c", "key_ha')  # truncated mid-write

    got = {r["part_id"]: r.asDict() for r in wh.committed_df(spark).collect()}
    assert got[hidden_part]["key_hash"] == 7  # the distributed read sees it
    assert got["p/c"]["key_hash"] == 5  # table entry survives the corrupt JSON
    assert len(got) == 2


def test_pending_non_broadcast_path(spark, tmp_path):
    """(r4 VERDICT #6) With Spark's broadcast threshold off, the resume
    anti-join shuffles the committed side instead of broadcasting it; a
    partial and a full resume give the same answers either way."""
    from gdelta_spark.pipeline import generator, warehouse

    root = str(tmp_path / "wh")
    tokens = generator.tokens_table(spark, rows_per_regime=8, num_partitions=2)
    tokens.cache().count()
    s1 = warehouse.encode_and_commit(spark, tokens, root, group_bytes=1 << 20)
    assert s1["encoded"] > 0

    wh = warehouse.Warehouse(root)
    wh._drop_manifests({wh.committed_manifests()[0]["part_id"]})
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        s2 = warehouse.encode_and_commit(spark, tokens, root, group_bytes=1 << 20)
        s3 = warehouse.encode_and_commit(spark, tokens, root, group_bytes=1 << 20)
    finally:
        spark.conf.set(key, old)
    assert s2["encoded"] == 1 and s2["skipped"] == s1["partitions"] - 1
    assert s3["encoded"] == 0 and s3["skipped"] == s1["partitions"]
