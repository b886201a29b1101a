"""Scaling-efficiency evidence for the z-order cluster rewrite
(lake/cluster.cluster_by) at two pinned parallelism levels — the same N-vs-4N
discipline as tools/scale_bench.py / scale_bench_refresh.py.

What this proves, per BASELINE.md:
1. the rewrite is one read + one range shuffle + one bucketed write, all
   JVM-side (plan-asserted in tools/plan_audit.py), so its throughput should
   track cores like the apply path does;
2. the post-rewrite probe is a metadata decision: the same 2-D AND-of-ranges
   probe prunes most files after clustering and nothing before (reported per
   run as file counts).

Reuses scale_bench_refresh's generated feed (same FEED_DIR + marker scheme).

Usage:
  python tools/scale_bench_cluster.py                  # 2M events, 2 vs 8
  python tools/scale_bench_cluster.py --events 4000000 --cpus 2 8
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import scale_bench_refresh as sbr  # noqa: E402  (shared feed + JVM CPU probe)

NUM_BUCKETS = 32


def worker(cpus: int) -> None:
    import tempfile

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.cdc.generator import CHANGE_LOG_SCHEMA
    from concepts_pipeline_spark.lake.cluster import cluster_by
    from concepts_pipeline_spark.session import get_spark

    from __spark_entry__ import TOKENS_SCHEMA

    # ParallelGC: same collector-conservation rationale as the sibling
    # benches (G1 inflates JVM CPU 25-40% at the wide level in one local JVM)
    spark = get_spark(app_name=f"cps-cluster-{cpus}", cpus=cpus,
                      shuffle_partitions=max(4 * cpus, 8),
                      extra_conf={
                          "spark.driver.extraJavaOptions": "-XX:+UseParallelGC"
                      })
    spark.sparkContext.setLogLevel("ERROR")
    feed = spark.read.schema(CHANGE_LOG_SCHEMA).parquet(
        f"file://{sbr.FEED_DIR}")
    root = tempfile.mkdtemp(prefix=f"cps-cluster-{cpus}-")

    # untimed: bulk replay -> the table the maintenance op will rewrite
    pipe = CdcPipeline(
        spark, f"{root}/tokens", TOKENS_SCHEMA, ["doc_id"],
        num_buckets=NUM_BUCKETS,
    )
    pipe.apply_batch(feed.drop("batch_id"), fence_token="bulk:0")
    t = pipe.target
    base_rows = t.read(spark).count()

    probe = [("n_tok", 4, 8), ("source", "loc", "loc")]
    m0 = t.manifest()
    kept_before = len(t.files_where_all(m0, probe))

    c0, t0 = sbr._jvm_cpu_seconds(), time.time()
    r = cluster_by(spark, t, ["n_tok", "source"], bits=6, files_per_bucket=4)
    dt = time.time() - t0
    jvm = sbr._jvm_cpu_seconds() - c0

    m1 = t.manifest()
    kept_after = len(t.files_where_all(m1, probe))

    print(json.dumps({
        "cpus": cpus,
        "base_rows": base_rows,
        "cluster_sec": round(dt, 2),
        "rows_per_sec": round(base_rows / dt, 1),
        "jvm_cpu_sec": round(jvm, 1),
        "files": r["files"],
        "probe_kept_files": [kept_before, len(m0.files),
                             kept_after, len(m1.files)],
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--keys", type=int, default=200_000)
    ap.add_argument("--max-tokens", type=int, default=32)
    ap.add_argument("--cpus", type=int, nargs="+", default=[2, 8])
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--no-pin", action="store_true")
    ap.add_argument("--worker", type=int, default=None)
    args = ap.parse_args()

    if args.worker is not None:
        worker(args.worker)
        return

    sbr.prep(args.events, args.keys, args.max_tokens)
    runs: dict[int, list[dict]] = {c: [] for c in args.cpus}
    for _ in range(args.repeats):
        for c in args.cpus:
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--worker", str(c)]
            if not args.no_pin and os.path.exists("/usr/bin/taskset"):
                cmd = ["taskset", "-c", f"0-{c - 1}"] + cmd
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
            lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
            if out.returncode != 0 or not lines:
                sys.stderr.write(out.stderr[-4000:])
                raise RuntimeError(
                    f"worker (cpus={c}) rc={out.returncode}, no result line"
                )
            runs[c].append(json.loads(lines[-1]))
            print(lines[-1], flush=True)

    levels = sorted(runs)
    if len(levels) >= 2:
        lo_c, hi_c = levels[0], levels[-1]
        ratio = hi_c / lo_c
        lo = max(r["rows_per_sec"] for r in runs[lo_c])
        hi = max(r["rows_per_sec"] for r in runs[hi_c])
        print(json.dumps({
            "metric": "cluster_by scaling (best-of interleaved repeats)",
            "cores": [lo_c, hi_c],
            "rows_per_sec": [lo, hi],
            "speedup": round(hi / lo, 3),
            "efficiency": round(hi / lo / ratio, 3),
        }))


if __name__ == "__main__":
    main()
