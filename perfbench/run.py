"""Benchmark entry point: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload encode_verify|queries --seed N \
        --seconds S --trace 0|1 [--size full|smoke]

Run from the repository root. Each run is a fresh process holding a fresh
Spark application at ``local[nproc]``: this script pins the environment and
starts the measuring process in its own session, enforces a deadline, and
reaps every process of that session (Spark JVM, Python workers) before it
prints the result. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0`` and
its ``per_layer`` metrics with ``--trace 1``. The lines before it record the
input fingerprints, box state and named per-workload figures. Inputs,
warehouses, traces and run history go to ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
HISTORY = WORK / "history"
DEADLINE_S = 170  # the whole run, set-up and teardown included
OP_BUDGET_S = 110  # no new timed op starts after this much of the run


def _args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("encode_verify", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input size; smoke is for the benchmark's own test")
    ap.add_argument("--child", metavar="RESULT_FILE", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _env() -> dict:
    """The pinned run environment: cores, driver memory sized to the box,
    worker import path and every scratch directory inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) / (1 << 20)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEM=f"{int(min(4, max(1, mem_gib // 6)))}g",
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_LOCAL_DIRS=str(WORK / "spark-local" / uuid.uuid4().hex[:12]),
        TMPDIR=str(WORK / "tmp"),
        # the JVM spark-submit starts to build the driver command line
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
    )
    return env


def _reap(pgid: int) -> None:
    """Kill whatever is left of the measuring process's session and wait
    (bounded) until the group is empty."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        end = time.monotonic() + wait_s
        try:
            os.killpg(pgid, sig)
            while time.monotonic() < end:
                time.sleep(0.1)
                os.killpg(pgid, 0)
        except ProcessLookupError:
            return


def parent(args: argparse.Namespace) -> int:
    if not (ROOT / "gdelta_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print("perfbench: the library sources are missing; run from a full checkout",
              file=sys.stderr)
        return 2
    env = _env()
    for d in (env["SPARK_LOCAL_DIRS"], WORK / "tmp", WORK / "runs"):
        Path(d).mkdir(parents=True, exist_ok=True)
    result_file = WORK / "runs" / f"result-{uuid.uuid4().hex[:12]}.json"
    cmd = [sys.executable, str(Path(__file__).resolve()), *sys.argv[1:],
           "--child", str(result_file)]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True)
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s, stopped", file=sys.stderr)
        rc = None
    finally:
        _reap(proc.pid)
        proc.wait()
        shutil.rmtree(env["SPARK_LOCAL_DIRS"], ignore_errors=True)
    if rc != 0 or not result_file.exists():
        print(f"perfbench: measuring process failed (exit {rc})", file=sys.stderr)
        return 1
    line = result_file.read_text()
    result_file.unlink()
    print(line, flush=True)
    return 0


def _spark(trace_dir: Path | None):
    from gdelta_spark.pipeline.session import get_spark

    extra = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir is not None:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]", extra=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)


def _history(workload: str, input_digest: str) -> Path:
    """Run-history file of one workload on one input under the current
    library and benchmark sources: traced runs take their overhead base
    only from untraced runs of the same code on the same data."""
    from perfbench import inputs

    code = inputs.source_digest("gdelta_spark", "__spark_entry__.py", "bench.py", "perfbench")
    return HISTORY / f"{workload}-{inputs._key(code=code, input=input_digest)}.jsonl"


def _untraced_work_s(path: Path) -> list[float]:
    rows = [json.loads(x) for x in path.read_text().splitlines()] if path.exists() else []
    return [r["work_s"] for r in rows if not r["trace"]]


def _fold_trace(trace_dir: Path, tracer, n_ops: int, args: argparse.Namespace) -> dict:
    """Fold the run's event log per job group, write the spans (with self
    time) and the fold to ``spans.json``, and return the ``spark.*`` layer
    metrics: the totals over the timed ops' job groups, per op."""
    from perfbench import tracing

    folded = tracing.fold_event_log(trace_dir)
    for log in trace_dir.glob("eventlog*"):
        shutil.rmtree(log, ignore_errors=True)
    (trace_dir / "spans.json").write_text(json.dumps({
        "run_id": tracer.run_id, "workload": args.workload, "seed": args.seed,
        "spans": tracer.with_self_time(),
        "spark_by_job_group": {str(g): v for g, v in folded.items()},
    }, indent=1))
    in_work = tracer.subtree("work")
    return {
        f"spark.{m}": sum(v[m] for g, v in folded.items() if g in in_work) / n_ops
        for m in tracing.SPARK_METRICS
    }


def child(args: argparse.Namespace) -> None:
    sys.path.insert(0, str(ROOT))
    from perfbench import tracing, workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    started = time.monotonic()
    run_id = uuid.uuid4().hex[:12]
    tag = f"{args.workload}-{args.seed}-{run_id}"
    run_dir = WORK / "runs" / tag
    trace_dir = WORK / "traces" / tag if args.trace else None
    if trace_dir is not None:
        trace_dir.mkdir(parents=True)
    box_before = tracing.box_state()
    tracer = tracing.Tracer(bool(args.trace), run_id)

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = _spark(trace_dir)
    tracer.attach(spark.sparkContext)
    wl = workloads.WORKLOADS[args.workload](spark, tracer, args.seed, args.size, run_dir)
    with tracer.span("session.warmup"):
        wl.warmup()
    setup_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    history = _history(args.workload, wl.input_digest)

    samples: list[float] = []
    attempted = failed = 0
    with tracing.RssSampler() as rss:
        t_end = time.perf_counter() + args.seconds
        while True:
            with tracer.span("work"):
                t = time.perf_counter()
                result = wl.op()
                samples.append(time.perf_counter() - t)
            n_att, n_fail = wl.check(result)
            attempted += n_att
            failed += n_fail
            if wl.single_pass or time.monotonic() - started > OP_BUDGET_S:
                break
            if len(samples) >= wl.min_ops and time.perf_counter() >= t_end:
                break
    work_s = statistics.median(samples)
    pinned_mb = tracing.pinned_storage_mb(spark)

    values = {
        "setup_s": setup_s,
        "work_s": work_s,
        "stored_bytes_per_token_byte": wl.stored_ratio(),
        "peak_rss_mb": rss.peak / tracing.MIB,
    }
    if args.trace:
        layer = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        layer.update(wl.layers(work_s))
        untraced = _untraced_work_s(history)
        layer.update({
            "session.start_s": tracer.total("session.start"),
            "session.warmup_s": tracer.total("session.warmup"),
            "spark.pinned_storage_mb": pinned_mb,
            "trace.work_s": work_s,
            # 0 when no untraced run of this code on this input came first
            "trace.overhead_s": work_s - statistics.median(untraced) if untraced else 0.0,
        })
    _stop(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        layer.update(_fold_trace(trace_dir, tracer, len(samples), args))
    HISTORY.mkdir(parents=True, exist_ok=True)
    with open(history, "a") as f:
        f.write(json.dumps({"trace": bool(args.trace), "seed": args.seed,
                            "work_s": work_s, "setup_s": setup_s}) + "\n")

    errors = wl.info.get("errors")
    correct = failed == 0 and not errors
    info = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "run_id": run_id,
        "prepare_s": prepare_s, "work_samples_s": samples, "rss_mb_at_peak": rss.at_peak,
        "trace_overhead_base_runs": len(untraced) if args.trace else None,
        "named": {"ops_attempted": attempted, "ops_failed": failed,
                  "pinned_storage_mb": pinned_mb, **wl.named(work_s)},
        "box": {"before": box_before, "after": tracing.box_state(),
                "driver_mem": os.environ["SPARK_DRIVER_MEM"]},
        **wl.info,
    }
    print(json.dumps({"info": info}, default=str), flush=True)
    if errors:
        print(json.dumps({"errors": errors}), file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else values
    if set(source) != {m["name"] for m in wanted}:
        raise KeyError(f"measured metrics differ from BENCHMARK.json: {sorted(source)}")
    Path(args.child).write_text(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }))


def main() -> int:
    args = _args()
    if args.child:
        child(args)
        return 0
    return parent(args)


if __name__ == "__main__":
    sys.exit(main())
