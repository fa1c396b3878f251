"""Interleaved A/B pairs of the repository benchmark from two checkouts.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload queries \
        --seeds 41-50 [--trace 0|1] [--seconds 5] --out AB_name.json

Each pair runs ``python3 perfbench/run.py --workload W --seed N --seconds S
--trace T`` once in each checkout, one after the other; the side that runs
first alternates from pair to pair (the parent first on even pair indexes),
so a drift of the box over minutes does not favour one side. Every run's
raw result line is kept. Per metric the output holds each side's median and
interquartile range, the number of pairs in which the change's value is
lower, and the relative change of the medians.

The output file accumulates: runs of other workloads or trace modes already
in ``--out`` are kept, and the summary is recomputed over all of them. The
file is rewritten after every run, so an interrupted batch keeps its pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """``41-50`` or ``1,3,5`` (or a mix) as a list of seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: Path, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run in ``checkout``: its result line and the info
    line's pinned storage."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    result, info = None, {}
    for line in proc.stdout.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = obj
        elif isinstance(obj, dict) and "info" in obj:
            info = obj["info"]
    if result is None:
        result = {"correct": False, "error": f"exit {proc.returncode}: {proc.stderr[-2000:]}"}
    return {"result": result,
            "pinned_storage_mb": info.get("named", {}).get("pinned_storage_mb")}


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def summarize(runs: list[dict]) -> dict:
    """Per metric: medians, IQRs and pairs won by the change, over the runs
    of one workload and trace mode, paired by seed."""
    by_seed: dict[int, dict[str, dict]] = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for p in by_seed.values() if all(s in p for s in SIDES)]
    names = sorted({m for p in pairs for s in SIDES
                    for m in p[s]["result"].get("metrics", {})})
    out: dict = {}
    for m in names:
        vals = [(p["parent"]["result"]["metrics"][m]["value"],
                 p["change"]["result"]["metrics"][m]["value"])
                for p in pairs
                if all(m in p[s]["result"].get("metrics", {}) for s in SIDES)]
        if not vals:
            continue
        par, chg = [v[0] for v in vals], [v[1] for v in vals]
        pm, cm = statistics.median(par), statistics.median(chg)
        out[m] = {
            "parent_median": pm, "change_median": cm,
            "parent_iqr": _iqr(par), "change_iqr": _iqr(chg),
            "change_lower_in_pairs": sum(c < p for p, c in vals),
            "pairs": len(vals),
            "median_rel_change": (cm - pm) / pm if pm else 0.0,
        }
    out["info_pinned_storage_mb_sorted"] = {
        s: sorted(r[s]["pinned_storage_mb"] for r in pairs if r[s]["pinned_storage_mb"] is not None)
        for s in SIDES
    }
    out["all_correct"] = all(p[s]["result"].get("correct") for p in pairs for s in SIDES)
    out["failed_ops"] = {s: sum(p[s]["result"].get("failed", 0) or 0 for p in pairs) for s in SIDES}
    return out


def _commit(checkout: Path) -> str:
    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=checkout,
                          capture_output=True, text=True).stdout.strip()
    dirty = subprocess.run(["git", "status", "--porcelain"], cwd=checkout,
                           capture_output=True, text=True).stdout.strip()
    return head + ("+uncommitted" if dirty else "") if head else "unknown"


def _box() -> str:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / (1 << 20)
    return (f"{len(os.sched_getaffinity(0))} cores (nproc), {mem_gb:.0f} GB RAM, "
            f"Python {platform.python_version()}, pyspark {pyspark.__version__}")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True, choices=("encode_verify", "queries"))
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, type=Path)
    ap.add_argument("--what", default="", help="one-line description stored in the output")
    args = ap.parse_args(argv)

    doc = json.loads(args.out.read_text()) if args.out.exists() else {"runs": {}}
    doc.update({
        "what": args.what or doc.get("what", ""),
        "parent_commit": _commit(args.parent),
        "change_commit": _commit(args.change),
        "box": _box(),
        "command": "python3 perfbench/run.py --workload <w> --seed N --seconds S --trace 0|1, "
                   "each side from its own checkout; pair order alternates "
                   "(parent first on even pair index)",
    })
    group = f"{args.workload}_{'traced' if args.trace else 'untraced'}"
    runs = doc["runs"].setdefault(group, [])
    checkouts = {"parent": args.parent, "change": args.change}
    for i, seed in enumerate(args.seeds):
        for side in SIDES if i % 2 == 0 else SIDES[::-1]:
            rec = run_once(checkouts[side], args.workload, seed, args.seconds, args.trace)
            runs.append({"side": side, "seed": seed, "workload": args.workload,
                         "trace": args.trace,
                         "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), **rec})
            doc["summary"] = {g: summarize(rs) for g, rs in doc["runs"].items()}
            args.out.write_text(json.dumps(doc, indent=1) + "\n")
            m = rec["result"].get("metrics", {})
            shown = {k: round(v["value"], 3) for k, v in m.items() if k in ("work_s", "setup_s")}
            print(f"pair {i} seed {seed} {side}: {shown or rec['result']}", flush=True)


if __name__ == "__main__":
    main()
