#!/usr/bin/env python3
"""Benchmark of the chunk store's three user paths.

    python3 perfbench/run.py --workload adhoc|ingest \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Inputs come from ``--seed`` only, and
the number of timed ops from ``--seconds`` only; every answer is checked.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` (failed + wrong-answer ops) and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run follows the untraced loop
with a traced one and another untraced one, so it can report the
tracing overhead.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("adhoc", "ingest")
CPUS = 4


def _process_age() -> float:
    """Seconds since this process started (Linux), else 0."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T_START = time.perf_counter() - _process_age()


def _environment(work: str) -> None:
    """Confine Spark, its JVM and its Python workers to ``work`` and put
    the engine on the executors' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # neither JVM (spark-submit's launcher, then Spark's own) writes
    # hsperfdata under /tmp: files stay inside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # keep every execution of a run for the traced roll-up
        "--conf spark.sql.ui.retainedExecutions=100000",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher's JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(workload: str, res: dict, setup_s: float) -> dict:
    from summary import summarize

    if workload == "ingest":
        lat = [r.latency for r in res["rounds"]]
        rate = len(res["rounds"]) * res["round_samples"] / res["loop_s"]
        per_sample = res["bytes_per_sample"]
    else:
        lat = [o.latency for o in res["ops"]]
        # samples the ops' selectors take in, per second
        rate = res["samples_rate"]
        per_sample = res["bytes"] / res["samples"]
    s = summarize(lat)
    res["summary"] = s
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (s["p50"], "s"),
        "latency_tail_s": (s["tail"], "s"),
        "throughput_ops_s": (res["throughput"], "1/s"),
        "ingest_samples_per_s": (rate, "1/s"),
        "bytes_per_sample": (per_sample, "B"),
    }


def outcome(workload: str, res: dict) -> tuple[int, list]:
    """The timed loops' attempted op count and their failed or
    wrong-answer ops."""
    if workload == "ingest":
        rounds = res["rounds"] + res["extra_rounds"]
        return len(rounds), [
            r for r in rounds if not r.posts_ok or r.index in res["wrong_rounds"]]
    from serve import check

    ops = res["ops"] + res["extra_ops"]
    return len(ops), [o for o in ops if not check(o)]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tsdb_parquet_spark", "__init__.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    _environment(work)
    from tsdb_parquet_spark.session import get_spark

    t_spark = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CPUS)
    spark_s = time.perf_counter() - t_spark
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.workload == "ingest":
            import ingest

            res = ingest.run(spark, args.seed, args.seconds, bool(args.trace), work)
            checks_ok = res["series_ok"] and not res["wrong_rounds"]
        else:
            import serve

            res = serve.run(spark, args.seed, args.seconds, bool(args.trace), work)
            checks_ok = True
    finally:
        _stop_spark(spark)
    e2e = end_to_end(args.workload, res, res["first_op_at"] - T_START)
    import inputs

    # after the run, so set-up does not pay for it: the generator must
    # still reproduce the digests pinned for the reference seed
    deterministic = (inputs.fingerprint(args.workload, inputs.GOLDEN_SEED)
                     == inputs.GOLDEN[args.workload])
    attempted, bad = outcome(args.workload, res)
    failed = len(bad)
    correct = deterministic and checks_ok and res["warm_ok"] and failed == 0
    s = res["summary"]
    phases = {"spark": spark_s, **res.get("phases", {})}
    print(f"# {args.workload} setup phases: "
          + ", ".join(f"{k} {v:.2f}s" for k, v in phases.items()))
    by_kind: dict[str, list[float]] = {}
    for o in res.get("ops", []):
        by_kind.setdefault(o.req.kind, []).append(o.latency)
    timed = res["rounds"] if args.workload == "ingest" else res["ops"]
    print(f"# {args.workload} op latencies in start order: "
          + " ".join(f"{o.latency:.2f}" for o in sorted(timed, key=lambda o: o.start)))
    for kind, lats in sorted(by_kind.items()):
        print(f"# {args.workload} op {kind}: n={len(lats)} "
              f"median={sorted(lats)[len(lats) // 2]:.3f}s")
    for o in bad:
        print(f"# failed op: {o}"[:400], file=sys.stderr)
    for name, (value, unit) in e2e.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    print(f"# {args.workload} latency_tail_s is p{s['tail_pct']} of {s['n']} ops; "
          f"error_rate = {failed}/{attempted}; inputs match the pinned digests: {deterministic}")
    if args.trace:
        from tracing import LAYER_METRICS

        layers = dict.fromkeys(LAYER_METRICS, 0.0)
        layers.update(res["layers"])
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in layers.items()}
        for k, v in layers.items():
            print(f"# {args.workload} {k} = {v:.6g} {LAYER_METRICS[k]}")
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        res["tracer"].dump(path, workload=args.workload, seed=args.seed, layers=layers)
        print(f"# {args.workload} spans and layer metrics written to {path}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
