"""The session-table helper: one get-or-build per (Spark application,
corpus, kind), one LRU over corpora."""

from __future__ import annotations

from pathlib import Path
from types import SimpleNamespace

import pytest

from gdelta_spark.pipeline import session

SF = str(Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.001")


def _app(app_id: str):
    """Stands in for a SparkSession: only the application id is read."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def tables(monkeypatch):
    t: dict = {}
    monkeypatch.setattr(session, "_SESSION_TABLES", t)
    return t


def _counting_build(calls: list, value):
    def build():
        calls.append(value)
        return value

    return build


def test_build_runs_once_per_app_corpus_kind(tables):
    calls: list = []
    a = session.session_table(_app("app-1"), "/c", "bands", _counting_build(calls, "x"))
    b = session.session_table(_app("app-1"), "/c", "bands", _counting_build(calls, "y"))
    assert a == b == "x"
    assert calls == ["x"]


def test_two_kinds_of_one_corpus_coexist(tables):
    calls: list = []
    spark = _app("app-1")
    for kind in [("codebook", 8), ("assign", 8), ("codebook", 8), ("assign", 8)]:
        session.session_table(spark, "/c", kind, _counting_build(calls, kind))
    assert calls == [("codebook", 8), ("assign", 8)]
    assert session.session_table(spark, "/c", ("assign", 8), None) == ("assign", 8)


def test_fifth_corpus_evicts_oldest_with_all_its_kinds(tables):
    calls: list = []
    spark = _app("app-1")
    for i in range(session.SESSION_TABLES_CAP):
        for kind in ("a", "b"):
            session.session_table(spark, f"/c{i}", kind, _counting_build(calls, (i, kind)))
    session.session_table(spark, "/c0", "a", None)  # a hit makes /c0 most recent
    session.session_table(spark, "/new", "a", _counting_build(calls, ("new", "a")))
    assert len(tables) == session.SESSION_TABLES_CAP
    assert ("app-1", "/c1") not in tables  # least recently used, both kinds gone
    calls.clear()
    for i in (0, 2, 3):
        for kind in ("a", "b"):
            session.session_table(spark, f"/c{i}", kind, _counting_build(calls, "miss"))
    assert calls == []
    session.session_table(spark, "/c1", "b", _counting_build(calls, (1, "b")))
    assert calls == [(1, "b")]


def test_other_application_misses(tables):
    calls: list = []
    session.session_table(_app("app-1"), "/c", "n", _counting_build(calls, 1))
    assert session.session_table(_app("app-2"), "/c", "n", _counting_build(calls, 2)) == 2
    assert calls == [1, 2]


def test_nested_builds_share_the_corpus_entry(tables):
    spark = _app("app-1")
    inner = lambda: session.session_table(spark, "/c", "q", lambda: "q")  # noqa: E731
    outer = session.session_table(spark, "/c", "sig", lambda: inner() + "-sig")
    assert outer == "q-sig"
    assert tables == {("app-1", "/c"): {"q": "q", "sig": "q-sig"}}


def test_corpus_tables_are_shared_across_calls(spark):
    from gdelta_spark.ops import ann, dedup

    assert ann.ivf_assign(spark, SF) is ann.ivf_assign(spark, SF)
    assert dedup._minhash_bands(spark, SF) is dedup._minhash_bands(spark, SF)
