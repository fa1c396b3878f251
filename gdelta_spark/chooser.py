"""Cost-based codec chooser.

Samples a partition's token distribution (cardinality, run lengths, value
range, inter-record similarity — the north rule's stat set), computes
analytic byte estimates for every codec, then measures the top candidates on
the sample and picks the minimum. Ties and estimate errors therefore never
produce a wrong choice, only a slightly larger sample-encode cost.

Pure numpy — runs inside the encode kernel per partition/block; no Spark
imports, no driver round-trip.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

from gdelta_spark.codecs import core
from gdelta_spark.codecs.delta import tokens_to_bytes
from gdelta_spark.codecs.light import bit_width

SAMPLE_TOKENS = 32_768
PROBE_TOKENS = 2_048  # per-row gdelta similarity probe size


def _backstopped(enc: bytes) -> int:
    """Size after the block layer's entropy backstop (blocks.py v2): the
    blob ships zlib-wrapped when that is smaller. The chooser must model
    the same stage it feeds, or it routes e.g. texty clusters to the slow
    delta path when FSST+backstop is both smaller and 4x faster."""
    return min(len(enc), len(zlib.compress(enc, 6)) + 2)


@dataclass
class BlockStats:
    n: int
    cardinality: int
    n_runs: int
    value_range: int
    base_similarity: float  # sampled gdelta ratio vs base (1.0 = incompressible)
    delta_width: float  # mean per-miniblock zigzag-delta bit width (sampled)


def probe_similarity(sample_rows: list[np.ndarray], base: bytes | None) -> float:
    """Sampled gdelta ratio of a few rows vs ``base`` (1.0 = incompressible).

    Bounded probe: slices keep the worst case (highly repetitive windows ->
    dense spurious matches) cheap, and near-dup rows show their similarity
    in any aligned prefix. Cheap enough to run per similarity cluster."""
    if base is None or not sample_rows:
        return 1.0
    from gdelta_spark.codecs.gdelta_group import gdelta_encode_group

    rows = [tokens_to_bytes(row[:PROBE_TOKENS]) for row in sample_rows[:3]]
    raw = sum(len(rb) for rb in rows)
    blobs = gdelta_encode_group(rows, base[: 4 * PROBE_TOKENS])
    enc = sum(_backstopped(b) for b in blobs)
    return enc / raw if raw else 1.0


def collect_stats(values: np.ndarray, sample_rows: list[np.ndarray], base: bytes | None) -> BlockStats:
    from gdelta_spark.codecs.light import _mini_widths

    v = values if values.size <= SAMPLE_TOKENS else values[: SAMPLE_TOKENS]
    v64 = v.astype(np.int64, copy=False)
    card = int(np.unique(v).size)
    n_runs = int((np.diff(v64) != 0).sum()) + 1 if v.size else 0
    rng = int(v64.max() - v64.min()) if v.size else 0
    sim = probe_similarity(sample_rows, base)
    if v.size > 1:
        d = np.diff(v64)
        _, widths = _mini_widths(((d << 1) ^ (d >> 63)).view(np.uint64))
        dw = float(widths.mean())
    else:
        dw = 0.0
    return BlockStats(int(values.size), card, n_runs, rng, sim, dw)


def estimate_bytes(stats: BlockStats) -> dict[str, float]:
    """Analytic size estimates (bytes) per codec, from sample stats."""
    n = max(stats.n, 1)
    est = {"raw": 4.0 * n}
    code_w = bit_width(max(stats.cardinality - 1, 0))
    est["dict"] = n * code_w / 8 + stats.cardinality * 4 + 32
    runs = max(int(stats.n_runs * (stats.n / max(min(stats.n, SAMPLE_TOKENS), 1))), 1)
    est["rle"] = runs * (bit_width(stats.value_range) + 16) / 8 + 64
    est["for"] = n * bit_width(stats.value_range) / 8 + 16
    est["dbp"] = n * stats.delta_width / 8 + n / 128 + 16
    est["gdelta"] = 4.0 * n * stats.base_similarity + 16
    return est


def _measure_fsst(values: np.ndarray) -> float:
    """FSST has no closed-form estimate; measure a micro-sample and
    extrapolate (symbol-table overhead makes this an upper-ish bound)."""
    sample = values[: 8192]
    if sample.size == 0:
        return 8.0
    return _backstopped(core.encode_block(sample, core.FSST)) * (
        values.size / sample.size
    )


GDELTA_DOMINANCE = 4.0  # probe-measured gdelta must be this far below the
# best light-codec ESTIMATE to skip the measured shortlist (probe error
# margin: the probe measured real output on 3 rows, estimates are models)
MEASURE_MARGIN = 1.4  # codecs whose estimate is within this factor of the
# best estimate are measured on a sample slice
Z1_INCOMPRESSIBLE = 0.97  # zlib-1 sample ratio above which no
# entropy-based stage (FSST, the block backstop) can plausibly win


def _entropy_probe(values: np.ndarray) -> float:
    """zlib-1 ratio of a bounded raw-byte sample (~64 KB) — a cheap upper
    bound on what any entropy/sequence stage can achieve. ~1 ms, vs the
    ~10-50 ms FSST train + level-6 backstop probes it gates."""
    sb = np.ascontiguousarray(values[:16384], dtype="<i4").tobytes()
    if not sb:
        return 1.0
    return len(zlib.compress(sb, 1)) / len(sb)


def choose_codec(
    values: np.ndarray,
    sample_rows: list[np.ndarray] | None = None,
    base: bytes | None = None,
) -> tuple[int, dict[str, float]]:
    """Pick the winning codec for a block of token values.

    Analytic estimates shortlist codecs within ``MEASURE_MARGIN`` of the best
    estimate; the shortlist is then measured on a sample slice and the
    smallest measured size wins. Returns (codec_id, estimates).

    Two measured fast paths keep the chooser out of the encode hot loop
    (profiled at 60-75% of group-encode wall on delta/random regimes):

    - gdelta dominance: the similarity probe already MEASURED real delta
      output on sample rows; when that sits ``GDELTA_DOMINANCE`` x below
      every light-codec estimate, no measured candidate can close the gap
      — pick gdelta without training FSST or zlib-probing samples.
    - entropy pre-probe: one zlib-1 pass over a 64 KB sample bounds what
      FSST or the block-layer backstop could achieve; past
      ``Z1_INCOMPRESSIBLE`` the FSST measure is skipped (scored as raw)
      and shortlist measurement compares plain encoded sizes (the real
      encode still applies the real backstop — only the CHOICE is made
      without level-6 probes).
    """
    stats = collect_stats(values, sample_rows or [], base)
    est = estimate_bytes(stats)
    if base is None:
        est.pop("gdelta")
    elif est["gdelta"] * GDELTA_DOMINANCE <= min(
        v for k, v in est.items() if k != "gdelta"
    ):
        return core.GDELTA, est
    z1 = _entropy_probe(values)
    incompressible = z1 > Z1_INCOMPRESSIBLE
    est["fsst"] = est["raw"] if incompressible else _measure_fsst(values)
    best_est = min(est.values())
    shortlist = [c for c, e in est.items() if e <= best_est * MEASURE_MARGIN]
    if incompressible and "fsst" in shortlist:
        # est['fsst'] == est['raw'] here, so fsst enters the shortlist
        # whenever raw does and the measured loop would still pay the FSST
        # train the probe said cannot win (profiled: the single largest
        # kernel cost on token corpora). Score it as raw without
        # measuring; A/B over every fixture regime + the sf doc corpora
        # confirmed the chosen codec is unchanged for every group.
        shortlist.remove("fsst")
    if len(shortlist) == 1:
        return core.CODEC_IDS[shortlist[0]], est

    sample = values[: SAMPLE_TOKENS * 2]
    measured = {}
    for name in shortlist:
        cid = core.CODEC_IDS[name]
        if cid == core.GDELTA:
            # similarity already sampled per-row; reuse the analytic figure
            measured[name] = est[name]
            continue
        enc = core.encode_block(sample, cid)
        # raw blocks skip the backstop in the block layer; model that too
        size = (
            len(enc) if (cid == core.RAW or incompressible) else _backstopped(enc)
        )
        measured[name] = size * (values.size / max(sample.size, 1))
    winner = min(measured, key=measured.get)
    # near-tie: prefer raw (cheapest decode, no ambiguity from estimate noise)
    if "raw" in measured and measured["raw"] <= measured[winner] * 1.02:
        winner = "raw"
    return core.CODEC_IDS[winner], est
