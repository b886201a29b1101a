"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload trickle_stream --seed 1 --seconds 15 --trace 0

Prints a detail line, then as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also records
spans and a Spark event log and reports the per-layer table instead. Exits 1
when a result is wrong, 2 when the checkout holds no engine. All files go
under ``.bench_build/perfbench`` in the checkout; landed feeds are cached
there by (workload, seed, size).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FEED_CACHE_KEEP = 4
CPUS = min(4, os.cpu_count() or 1)

END_TO_END_UNITS = {
    "setup_s": "s",
    "apply_eps": "1/s",
    "apply_p50_s": "s",
    "apply_tail_s": "s",
    "lookup_mean_s": "s",
    "lookup_tail_s": "s",
    "scan_p50_s": "s",
    "write_bytes_per_event": "bytes",
    "table_bytes_per_row": "bytes",
    "peak_rss_mb": "MB",
}


def tail_pct(n: int) -> float:
    """The highest percentile with at least ten samples beyond it; with fewer
    than 40 samples, p75. A run holds 5-10 samples per kind."""
    return max(75.0, 100.0 * (1 - 10 / n))


def apply_tail(out) -> tuple[float, dict]:
    """apply_tail_s and what it was taken over: the median of the slow-mode
    samples where the workload names them (``mor_read_mix``: the compacting
    batches, about one in five, which a percentile of 5-10 samples would cut
    through), else the tail percentile of every batch."""
    if out.tail_s is not None:
        return statistics.median(out.tail_s), {"of": "slow mode", "n": len(out.tail_s)}
    pct = tail_pct(len(out.apply_s))
    return percentile(out.apply_s, pct), {"pct": pct, "n": len(out.apply_s)}


def percentile(xs: list[float], pct: float) -> float:
    import numpy as np

    return float(np.percentile(xs, pct))


def prepare_feed(workload: str, seed: int, seconds: int) -> tuple[str, dict]:
    """Land the workload's feed in a separate process, cached by spec."""
    from perfbench.workloads import feed_spec

    spec = feed_spec(workload, seed, seconds)
    digest = hashlib.sha1(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:10]
    feeds = os.path.join(WORK, "feeds")
    out = os.path.join(feeds, f"{workload}-s{seed}-{digest}")
    meta = os.path.join(out, "feed.json")
    if not os.path.exists(meta):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp)
        with open(os.path.join(tmp, "spec.json"), "w") as fh:
            json.dump(spec, fh)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "feed.py"),
             os.path.join(tmp, "spec.json"), tmp],
            check=True,
        )
        os.replace(tmp, out)
        old = sorted(
            (os.path.join(feeds, d) for d in os.listdir(feeds) if ".tmp" not in d),
            key=os.path.getmtime,
        )
        for d in old[:-FEED_CACHE_KEEP]:
            shutil.rmtree(d, ignore_errors=True)
    os.utime(out)
    with open(meta) as fh:
        return out, json.load(fh)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_jiffies() -> list[int]:
    """The machine's CPU time split from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...); empty where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_pct(j0: list[int], j1: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: timings of this benchmark scale with it."""
    if len(j0) < 8 or len(j1) < 8:
        return None
    d = [b - a for a, b in zip(j0, j1)]
    return 100.0 * d[7] / sum(d) if sum(d) else None


def end_to_end(out, session_s: float, rss_mb: float) -> tuple[dict, dict]:
    """(metrics, sample counts) from a workload outcome."""
    tail, tail_count = apply_tail(out)
    vals = {
        "setup_s": session_s + statistics.median(out.setup_reps_s),
        "apply_eps": out.events / out.apply_wall_s,
        "apply_p50_s": statistics.median(out.apply_s),
        "apply_tail_s": tail,
        # a mean: over a compaction cycle MoR lookup times are bimodal
        # (fan-in 0-2 vs 3-4 deltas, ~0.5 vs ~0.8 s) in a near 3:2 split, so
        # a median flips between the modes from run to run
        "lookup_mean_s": statistics.mean(out.lookup_s),
        "lookup_tail_s": percentile(out.lookup_s, tail_pct(len(out.lookup_s))),
        "scan_p50_s": statistics.median(out.scan_s),
        "write_bytes_per_event": out.write_bytes / out.events,
        "table_bytes_per_row": out.table_bytes / out.live_rows,
        "peak_rss_mb": rss_mb,
    }
    counts = {
        "setup_s": {"n": len(out.setup_reps_s), "session_s": session_s,
                    "reps_s": out.setup_reps_s},
        "apply_p50_s": {"n": len(out.apply_s)},
        "apply_tail_s": tail_count,
        "lookup_mean_s": {"n": len(out.lookup_s)},
        "lookup_tail_s": {"pct": tail_pct(len(out.lookup_s)), "n": len(out.lookup_s)},
        "scan_p50_s": {"n": len(out.scan_s)},
        "apply_eps": {"events": out.events, "wall_s": out.apply_wall_s},
        "raw": {"apply_s": out.apply_s, "tail_s": out.tail_s, "lookup_s": out.lookup_s,
                "scan_s": out.scan_s},
    }
    return vals, counts


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "concepts_pipeline_spark")):
        print("perfbench: no concepts_pipeline_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep the JVM's and Python's temp files inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        feed_dir, feed = prepare_feed(args.workload, args.seed, args.seconds)
        return run(args, workloads, feed_dir, feed, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, workloads, feed_dir, feed, run_dir, tmp) -> int:
    from concepts_pipeline_spark import session

    from perfbench.trace import Tracer, per_layer_units

    tracer = Tracer() if args.trace else None
    conf = {
        # a fixed heap (-Xms = -Xmx) under the throughput collector keeps the
        # generation sizes fixed: with G1's adaptive sizing the JVM's peak RSS
        # differed by up to 40% between runs of the same seed
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    event_log = os.path.join(run_dir, "eventlog")
    if tracer:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        tracer.install()
    jiffies0 = _cpu_jiffies()
    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}", cpus=CPUS,
                              extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("FATAL")
    gateway = spark.sparkContext._gateway
    try:
        if tracer:
            tracer.sc = spark.sparkContext
        ctx = workloads.Ctx(spark=spark, feed_dir=feed_dir, feed=feed,
                            run_dir=run_dir, seconds=args.seconds, seed=args.seed,
                            tracer=tracer)
        out = workloads.WORKLOADS[args.workload](ctx)
        jiffies1 = _cpu_jiffies()
        rss_kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + _vm_hwm_kb(gateway.proc.pid))
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        if tracer:
            tracer.uninstall()

    vals, counts = end_to_end(out, session_s, rss_kb / 1024)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host_steal_pct": steal_pct(jiffies0, jiffies1),
              "samples": counts, **out.detail,
              "problems": out.problems}
    if tracer:
        # the traced run's own end-to-end figures: their difference from an
        # untraced run of the same seed is the tracing overhead
        detail["traced_end_to_end"] = vals
        layer = tracer.layer_metrics(event_log, out.derived)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    correct = out.failed == 0 and not out.problems
    print("perfbench detail " + json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
