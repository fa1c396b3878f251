"""Correctness gate of the ``queries`` workload: each result is compared with
its DuckDB ``oracle_sql()`` result by the canonicalize-and-hash of
``tools/driver_check.py`` — columns sorted by name, rows sorted on every
column, then ``pd.util.hash_pandas_object`` over raw bit patterns, so an
int64 123 and a float64 123.0 do not match."""

from __future__ import annotations

import hashlib
import json

from perfbench import inputs
from tools.driver_check import _canon, _hash


def result_hash(pdf) -> int:
    return _hash(_canon(pdf))


def expected_hashes(dataset: dict, names) -> dict[str, int]:
    """Oracle hash of every named query that has an oracle (cached per
    dataset digest and oracle SQL text)."""
    import duckdb

    import __spark_entry__ as entry_mod

    sql = {q: s for q, s in entry_mod.oracle_sql().items() if q in names}
    key = hashlib.sha256(json.dumps([dataset["digest"], sql], sort_keys=True).encode())
    path = inputs.CACHE / f"oracle-{key.hexdigest()[:16]}.json"
    if path.exists():
        return json.loads(path.read_text())
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dataset['path']}/{t}.parquet')"
            )
        out = {q: result_hash(con.execute(s).fetchdf()) for q, s in sorted(sql.items())}
    finally:
        con.close()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(out))
    tmp.replace(path)
    return out


def docs_per_source(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source"]).column("source")
    counts: dict[str, int] = {}
    for s in src.to_pylist():
        counts[s] = counts.get(s, 0) + 1
    return counts
