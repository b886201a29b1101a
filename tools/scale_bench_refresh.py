"""Scaling-efficiency evidence for the INCREMENTAL surfaces: view / token-index
/ replica refresh of one bucket-localized base commit, at two pinned
parallelism levels (the same N-vs-4N discipline as tools/scale_bench.py).

What this proves, per BASELINE.md:
1. refresh cost is O(changed buckets of the commit), not O(table): the timed
   commit touches only ``inc_buckets`` of the base's 32 buckets, and each
   surface folds exactly that commit (one snapshot_diff over those buckets +
   one fenced merge into the derived table);
2. that work scales: throughput efficiency from N to 4N pinned cores, per
   surface, best-of interleaved repeats (hypervisor noise is additive).

Usage:
  python tools/scale_bench_refresh.py                     # 2M events, 8 vs 32
  python tools/scale_bench_refresh.py --events 1000000 --cpus 2 8
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

FEED_DIR = os.environ.get("SCALE_REFRESH_FEED_DIR", "/tmp/cps-refresh-feed")
NUM_BUCKETS = 32
SURFACES = ["view_refresh", "index_refresh", "replica_refresh",
            "dupix_refresh"]


def prep(num_events: int, num_keys: int, max_tokens: int) -> None:
    """Feed built in a subprocess so its JVM dies before any timed worker
    (same CPU-accounting rationale as tools/scale_bench.py:prep)."""
    marker = os.path.join(FEED_DIR, f".ready-{num_events}-{num_keys}-{max_tokens}")
    if os.path.exists(marker):
        return
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--prep-worker",
         "--events", str(num_events), "--keys", str(num_keys),
         "--max-tokens", str(max_tokens)],
        cwd=REPO, check=True,
    )
    open(marker, "w").close()


def prep_worker(num_events: int, num_keys: int, max_tokens: int) -> None:
    from concepts_pipeline_spark.cdc.generator import (
        generate_change_log,
        write_change_log,
    )
    from concepts_pipeline_spark.session import get_spark

    spark = get_spark(app_name="cps-refresh-prep", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    df = generate_change_log(
        spark, num_events, num_keys, seed=43, num_batches=1,
        max_tokens=max_tokens, parallelism=64,
    )
    write_change_log(df, FEED_DIR)
    spark.stop()


def _jvm_cpu_seconds() -> float:
    total = 0.0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/stat") as fh:
                p = fh.read().split()
            total += (int(p[13]) + int(p[14])) / os.sysconf("SC_CLK_TCK")
        except OSError:
            pass
    return total


def worker(cpus: int, inc_buckets: int) -> None:
    import tempfile

    from pyspark.sql import functions as F

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.cdc.generator import CHANGE_LOG_SCHEMA
    from concepts_pipeline_spark.lake.index import TokenIndex
    from concepts_pipeline_spark.lake.replicate import Replica
    from concepts_pipeline_spark.lake.table import bucket_expr
    from concepts_pipeline_spark.lake.view import IncrementalAggView
    from concepts_pipeline_spark.session import get_spark

    from __spark_entry__ import TOKENS_SCHEMA

    # ParallelGC: with many concurrent vectorized-parquet readers in ONE
    # local-mode JVM, G1 inflates JVM CPU 25-40% at the wide level vs the
    # narrow one (measured; tools/scale_bench_view.py has the same note) —
    # collector overhead a per-executor-JVM cluster never sees. ParallelGC
    # conserves CPU across levels so the wall ratio measures the engine.
    spark = get_spark(app_name=f"cps-refresh-{cpus}", cpus=cpus,
                      shuffle_partitions=max(4 * cpus, 8),
                      extra_conf={
                          "spark.driver.extraJavaOptions": "-XX:+UseParallelGC"
                      })
    spark.sparkContext.setLogLevel("ERROR")
    feed = spark.read.schema(CHANGE_LOG_SCHEMA).parquet(f"file://{FEED_DIR}")
    root = tempfile.mkdtemp(prefix=f"cps-refresh-{cpus}-")

    # ---- untimed setup: base replay (one bulk commit) + derived bootstrap
    pipe = CdcPipeline(
        spark, f"{root}/tokens", TOKENS_SCHEMA, ["doc_id"],
        num_buckets=NUM_BUCKETS,
    )
    pipe.apply_batch(feed.drop("batch_id"), fence_token="bulk:0")

    view = IncrementalAggView(
        spark, pipe.target, f"{root}/view",
        group_cols=["source"], sum_cols={"tok_sum": "n_tok"}, num_buckets=4,
    )
    view.full_refresh()
    ix = TokenIndex(
        spark, pipe.target, f"{root}/ix",
        num_shards=8, num_buckets=16, max_postings=200_000,
    )
    ix.refresh()
    rep = Replica(spark, pipe.target, f"{root}/replica", num_buckets=16)
    rep.refresh()
    from concepts_pipeline_spark.lake.dupindex import DupHashIndex

    dupix = DupHashIndex(
        spark, pipe.target, f"{root}/dupix", k=4, num_buckets=16
    )
    dupix.full_refresh()

    # ---- the bucket-localized incremental commit: update every live key
    # hashing into the first `inc_buckets` buckets (diff then provably reads
    # only those buckets on both sides)
    state = pipe.final_state()
    max_lsn = feed.agg(F.max("lsn")).first()[0]
    inc = (
        state.filter(bucket_expr(["doc_id"], NUM_BUCKETS) < inc_buckets)
        .select(
            (F.lit(max_lsn) + F.xxhash64("doc_id") % 1000 + 1001).alias("lsn"),
            F.lit("U").alias("op"),
            "doc_id",
            F.slice(F.reverse("tokens"), 1,
                    F.greatest(F.size("tokens") - 1, F.lit(1))).alias("tokens"),
            F.greatest(F.size("tokens") - 1, F.lit(1)).cast("int").alias("n_tok"),
            F.concat(F.col("source"), F.lit("+r")).alias("source"),
        )
    )
    inc_rows = inc.count()
    pipe.apply_batch(inc, fence_token="inc:1")
    base_rows = state.count()

    # ---- timed refreshes: each folds EXACTLY the incremental commit
    timings: dict[str, dict] = {}

    def timed(name, fn):
        c0, t0 = _jvm_cpu_seconds(), time.time()
        fn()
        dt = time.time() - t0
        timings[name] = {
            "sec": round(dt, 2),
            "rows_per_sec": round(inc_rows / dt, 1),
            "jvm_cpu_sec": round(_jvm_cpu_seconds() - c0, 1),
        }

    timed("view_refresh", lambda: view.refresh())
    timed("index_refresh", lambda: ix.refresh())
    timed("replica_refresh", lambda: rep.refresh())
    timed("dupix_refresh", lambda: dupix.refresh())

    print(json.dumps({
        "cpus": cpus,
        "base_rows": base_rows,
        "inc_rows": inc_rows,
        "inc_buckets": inc_buckets,
        "num_buckets": NUM_BUCKETS,
        "timings": timings,
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--keys", type=int, default=200_000)
    ap.add_argument("--max-tokens", type=int, default=32)
    ap.add_argument("--inc-buckets", type=int, default=8,
                    help="buckets (of 32) the timed commit touches")
    ap.add_argument("--cpus", type=int, nargs="+", default=[8, 32])
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--no-pin", action="store_true")
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--prep-worker", action="store_true")
    args = ap.parse_args()

    if args.prep_worker:
        prep_worker(args.events, args.keys, args.max_tokens)
        return
    if args.worker is not None:
        worker(args.worker, args.inc_buckets)
        return

    prep(args.events, args.keys, args.max_tokens)
    runs: dict[int, list[dict]] = {c: [] for c in args.cpus}
    for _ in range(args.repeats):
        for c in args.cpus:
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--worker", str(c), "--inc-buckets", str(args.inc_buckets)]
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
        summary = {}
        for s in SURFACES:
            lo = max(r["timings"][s]["rows_per_sec"] for r in runs[lo_c])
            hi = max(r["timings"][s]["rows_per_sec"] for r in runs[hi_c])
            summary[s] = {
                "rows_per_sec": [lo, hi],
                "speedup": round(hi / lo, 3),
                "efficiency": round(hi / lo / ratio, 3),
            }
        print(json.dumps({
            "metric": "incremental-refresh scaling (best-of interleaved repeats)",
            "cores": [lo_c, hi_c],
            "surfaces": summary,
        }))


if __name__ == "__main__":
    main()
