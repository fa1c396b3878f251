"""Focused tests for operator internals rewritten in the round-6
optimization pass: each asserts the NEW formulation is value-identical to
the straightforward formulation it replaced.

- `_argmin_expr` (per-row array argmin) vs the old corpus-shuffling
  max_by aggregate, including order-insensitivity and tie-breaks.
- `_with_band_sigs` per-row array min vs the exploded min-of-substring
  aggregate.
- chooser incompressible shortlist (fsst skipped) vs measuring fsst.
- `min_label_components` single-aggregate message round on string ids.
"""

from __future__ import annotations

import random

import numpy as np
import pytest


def test_argmin_expr_matches_maxby(spark):
    import pyspark.sql.functions as F

    from gdelta_spark.ops import ann

    rng = random.Random(7)
    dim = ann.DIM
    vecs = [
        (i, [rng.randint(-10000, 10000) for _ in range(dim)]) for i in range(40)
    ]
    # include duplicate centroids so distance TIES exercise the c-min rule
    cents = [(c, [rng.randint(-10000, 10000) for _ in range(dim)]) for c in range(6)]
    cents.append((6, list(cents[0][1])))  # exact tie with cell 0
    v = spark.createDataFrame(vecs, "vec_id long, q array<bigint>")
    for order in (cents, list(reversed(cents))):
        cdf = spark.createDataFrame(order, "cell int, cq array<bigint>")
        got = {
            r["vec_id"]: r["cell"]
            for r in ann._assign_cells(v, cdf).collect()
        }
        # reference: explicit per-pair distances + max_by reduction
        dists = v.crossJoin(cdf).select(
            "vec_id", "cell", ann._sqdist(F.col("q"), F.col("cq")).alias("d2")
        )
        ref = {
            r["vec_id"]: r["cell"]
            for r in dists.groupBy("vec_id")
            .agg(
                F.max_by(
                    "cell",
                    F.struct((-F.col("d2")).alias("nd"), (-F.col("cell")).alias("nc")),
                ).alias("cell")
            )
            .collect()
        }
        assert got == ref
    # the tie pair (cells 0 and 6 identical): winner must be the SMALLER id
    tie_df = spark.createDataFrame(cents, "cell int, cq array<bigint>")
    assigned = ann._assign_cells(v, tie_df).collect()
    assert all(r["cell"] != 6 for r in assigned)


def test_band_sigs_numeric_min_equals_string_min(spark):
    import pyspark.sql.functions as F

    from gdelta_spark.ops import dedup

    rng = random.Random(3)
    words = ["alpha", "beta", "gamma", "delta", "x0", "y1", "zz"]
    rows = [
        (d, " ".join(rng.choices(words, k=5)))
        for d in range(12)
        for _ in range(rng.randint(3, 9))
    ]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string").distinct()
    arrays = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("arr"))
    got = dedup._stack_bands(dedup._with_band_sigs(arrays)).collect()
    # reference: the pre-round-6 direct min-of-substring formulation
    h1 = F.md5("shingle")
    h2 = F.md5(F.concat("shingle", F.lit("~")))
    aggs = [
        F.min(F.substring(h1, 8 * b + 1, 8)).alias(f"p{b}")
        for b in range(dedup.N_BANDS)
    ] + [
        F.min(F.substring(h2, 8 * b + 1, 8)).alias(f"q{b}")
        for b in range(dedup.N_BANDS)
    ]
    sigs = sh.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(
        f"'{b}', concat(p{b}, q{b})" for b in range(dedup.N_BANDS)
    )
    ref = sigs.select(
        "doc_id", F.expr(f"stack({dedup.N_BANDS}, {stack}) AS (band, sig)")
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


def test_chooser_incompressible_choice_unchanged():
    from gdelta_spark import chooser
    from gdelta_spark.codecs import core

    rng = np.random.default_rng(11)
    for _ in range(8):
        values = (
            rng.integers(0, 2**32, size=20000, dtype=np.uint64)
            .astype(np.uint32)
            .view(np.int32)
        )
        assert chooser._entropy_probe(values) > chooser.Z1_INCOMPRESSIBLE
        cid, est = chooser.choose_codec(values, None, None)
        # the skipped-fsst path must agree with actually MEASURING fsst:
        # measured fsst on incompressible data can never undercut raw by
        # the 2% near-tie margin
        enc = chooser._backstopped(core.encode_block(values[:65536], core.FSST))
        fsst_measured = enc * (values.size / min(values.size, 65536))
        assert fsst_measured >= 4.0 * values.size * 0.98
        assert cid == core.RAW


def test_min_label_components_generic_ids(spark):
    from gdelta_spark.ops import dedup

    # chain + clique with STRING vertex ids (the round-6 message-union
    # rewrite must stay generic over the id type)
    pairs = [
        ("d0002", "d0003"),
        ("d0003", "d0004"),
        ("d0004", "d0005"),
        ("b1", "b2"),
        ("b1", "b3"),
        ("b2", "b3"),
    ]
    df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    labels = {
        r["doc_id"]: r["label"]
        for r in dedup.min_label_components(df).collect()
    }
    assert labels == {
        "d0002": "d0002",
        "d0003": "d0002",
        "d0004": "d0002",
        "d0005": "d0002",
        "b1": "b1",
        "b2": "b1",
        "b3": "b1",
    }
