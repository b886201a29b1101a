"""Scaling-efficiency evidence: the same CDC replay at two local parallelism levels.

BASELINE.json's north rule demands throughput scaling efficiency >= 0.8 from N to
4N executors; in this sandbox (no real cluster) the evidence is the same job at
local[N] and local[4N] over the identical on-disk change log (TESTDATA rule).

Usage:
  python tools/scale_bench.py                 # prep feed, run at 8 and 32 cores
  python tools/scale_bench.py --events 4000000 --cpus 8 32

Each level runs in its own subprocess (fresh JVM) so executor-thread pools and
memory are clean. Prints one JSON summary line; paste results into BASELINE.md.
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

FEED_DIR = os.environ.get("SCALE_FEED_DIR", "/tmp/cps-scale-feed")


def prep(num_events: int, num_keys: int, num_batches: int) -> None:
    """Build the feed in a SUBPROCESS. The Py4J gateway JVM outlives
    ``spark.stop()`` for as long as its Python process runs — doing prep
    in-process would leave that JVM alive through every timed worker, stealing
    pinned cores and polluting the all-java CPU accounting (observed: a
    lingering prep JVM at ~90% CPU quadrupled a worker's measured jvm_cpu_sec)."""
    marker = os.path.join(FEED_DIR, f".ready-{num_events}-{num_keys}-{num_batches}")
    if os.path.exists(marker):
        return
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--prep-worker",
         "--events", str(num_events), "--keys", str(num_keys),
         "--batches", str(num_batches)],
        cwd=REPO, check=True,
    )
    open(marker, "w").close()


def prep_worker(num_events: int, num_keys: int, num_batches: int) -> None:
    from concepts_pipeline_spark.cdc.generator import (
        generate_change_log,
        write_change_log,
    )
    from concepts_pipeline_spark.session import get_spark

    spark = get_spark(app_name="cps-scale-prep", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    # fixed parallelism => identical files regardless of the session's core count
    df = generate_change_log(
        spark, num_events, num_keys, seed=42, num_batches=num_batches,
        max_tokens=256,  # mean ~128-token payloads: realistic pre-tokenized rows
        parallelism=64,
    )
    write_change_log(df, FEED_DIR)
    spark.stop()


def _comm(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _jvm_cpu_seconds() -> float:
    """Total utime+stime of all java processes — wall-noise-free work accounting."""
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


def worker(cpus: int, num_batches: int, single_batch: bool = False,
           strategy: str = "cow", wap: bool = False,
           partial: bool = False) -> None:
    import tempfile

    from pyspark.sql import functions as F

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.cdc.generator import CHANGE_LOG_SCHEMA
    from concepts_pipeline_spark.session import get_spark

    from __spark_entry__ import TOKENS_SCHEMA

    # same task granularity PER CORE at every level (4 shuffle partitions per
    # core): otherwise the 4N level runs 1 task/core and a single straggler
    # stalls the whole stage tail, understating scaling efficiency
    spark = get_spark(app_name=f"cps-scale-{cpus}", cpus=cpus,
                      shuffle_partitions=max(4 * cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    feed = (
        spark.read.schema(CHANGE_LOG_SCHEMA)
        .parquet(f"file://{FEED_DIR}")
    )
    if partial:
        # sparsify deterministically into column-level events: 1/3 full rows,
        # 1/3 tokens+n_tok only, 1/3 source only (deletes untouched) — the
        # column-register fold then has real per-column contention to resolve
        m = F.pmod(F.xxhash64(F.col("lsn")), F.lit(3))
        is_del = F.col("op") == "D"
        feed = feed.withColumn(
            "tokens", F.when(~is_del & (m != 2), F.col("tokens"))
        ).withColumn(
            "n_tok", F.when(~is_del & (m != 2), F.col("n_tok"))
        ).withColumn(
            "source", F.when(~is_del & (m != 1), F.col("source"))
        )
    n_events = feed.count()
    root = tempfile.mkdtemp(prefix=f"cps-scale-{cpus}-")
    pipe = CdcPipeline(
        spark,
        target_path=f"{root}/tokens",
        target_schema=TOKENS_SCHEMA,
        key_cols=["doc_id"],
        quarantine_path=f"{root}/quarantine",
        lineage_path=f"{root}/lineage",
        num_buckets=32,  # identical physical layout at every parallelism level
        strategy=strategy,
        update_mode="partial" if partial else "replace",
    )
    # JIT/codegen warmup on a scratch table: the first micro-batch otherwise pays
    # ~10 s of one-time JVM compilation that is not steady-state throughput
    scratch = CdcPipeline(
        spark, f"{root}/warmup", TOKENS_SCHEMA, ["doc_id"],
        num_buckets=8,
    )
    scratch.apply_batch(
        feed.filter(F.col("batch_id") == 0).drop("batch_id").limit(50_000),
        fence_token="warmup:0",
    )

    if wap:
        # the WAP level: every batch branch-staged, audited on the scoped
        # staged_changes diff (O(changed buckets)), then fast-forward
        # published — measures the quality gate's real overhead at scale
        from concepts_pipeline_spark.cdc.apply import staged_changes

        def audit(s, branch, result):
            ch = staged_changes(s, branch)
            n_del = ch.filter(F.col("change_type") == "delete").count()
            return n_del <= n_events  # always true; the COST is what we time

        def apply_one(batch, token):
            return pipe.apply_batch_wap(batch, fence_token=token, audit=audit)
    else:
        def apply_one(batch, token):
            return pipe.apply_batch(batch, fence_token=token)

    c0, t0 = _jvm_cpu_seconds(), time.time()
    applied = 0
    if single_batch:
        # batch size is a tuning knob (the reference tuned 25k/50k/100k bulk
        # batches, aggregator/reference.conf:10-14); one big micro-batch packs
        # stages best and is the steady-state-throughput configuration
        res = apply_one(feed.drop("batch_id"), "scale:all")
        applied += res.rows_in
    else:
        for b in range(num_batches):
            batch = feed.filter(F.col("batch_id") == b).drop("batch_id")
            res = apply_one(batch, f"scale:{b}")
            applied += res.rows_in
    elapsed = time.time() - t0
    jvm_cpu = _jvm_cpu_seconds() - c0
    final_rows = pipe.final_state().count()
    print(json.dumps({
        "cpus": cpus, "strategy": strategy, "wap": wap, "partial": partial,
        "events": n_events, "applied": applied,
        "elapsed_sec": round(elapsed, 2),
        "events_per_sec": round(n_events / elapsed, 1),
        "jvm_cpu_sec": round(jvm_cpu, 1),
        "effective_cores": round(jvm_cpu / elapsed, 2),
        "final_rows": final_rows,
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=4_000_000)
    ap.add_argument("--keys", type=int, default=400_000)
    ap.add_argument("--batches", type=int, default=2)
    ap.add_argument("--cpus", type=int, nargs="+", default=[2, 8],
                    help="N and 4N parallelism levels (default 2 vs 8)")
    ap.add_argument("--repeats", type=int, default=2,
                    help="interleaved repeats; best-of per level controls host noise")
    ap.add_argument("--no-pin", action="store_true",
                    help="disable taskset CPU pinning (pinning emulates the hard "
                         "per-executor CPU limits of a real cluster; without it "
                         "GC/IO threads overflow the nominal core budget)")
    ap.add_argument("--multi-batch", action="store_true",
                    help="apply per-segment micro-batches instead of one big batch")
    ap.add_argument("--strategy", default="cow", choices=["cow", "mor"])
    ap.add_argument("--wap", action="store_true",
                    help="stage-audit-publish every batch (write-audit-publish)")
    ap.add_argument("--partial", action="store_true",
                    help="column-level CDC: sparsify the feed into sparse "
                         "after-images and apply under update_mode='partial'")
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--prep-worker", action="store_true")
    args = ap.parse_args()

    if args.prep_worker:
        prep_worker(args.events, args.keys, args.batches)
        return
    if args.worker is not None:
        worker(args.worker, args.batches, single_batch=not args.multi_batch,
               strategy=args.strategy, wap=args.wap, partial=args.partial)
        return

    prep(args.events, args.keys, args.batches)
    # the all-java CPU accounting requires OUR worker to be the only JVM alive
    stray = [
        pid for pid in os.listdir("/proc") if pid.isdigit()
        and _comm(pid) == "java"
    ]
    if stray:
        print(f"WARNING: stray java process(es) {stray} will pollute "
              "jvm_cpu_sec and steal pinned cores — kill them first",
              file=sys.stderr)
    # interleave levels (A,B,A,B) so hypervisor-noise windows hit both levels
    # equally; best-of per level because noise is strictly additive
    runs: dict[int, list[dict]] = {c: [] for c in args.cpus}
    for _ in range(args.repeats):
        for c in args.cpus:
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--worker", str(c), "--batches", str(args.batches),
                   "--strategy", args.strategy]
            if args.multi_batch:
                cmd.append("--multi-batch")
            if args.wap:
                cmd.append("--wap")
            if args.partial:
                cmd.append("--partial")
            if not args.no_pin and os.path.exists("/usr/bin/taskset"):
                cmd = ["taskset", "-c", f"0-{c - 1}"] + cmd
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
            lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
            if out.returncode != 0 or not lines:
                # surface the worker's real failure instead of dying on an
                # IndexError with its stderr discarded
                sys.stderr.write(out.stderr[-4000:])
                raise RuntimeError(
                    f"worker (cpus={c}) exited rc={out.returncode} with no "
                    "result line — stderr above"
                )
            runs[c].append(json.loads(lines[-1]))
            print(lines[-1], flush=True)

    best = {c: max(rs, key=lambda r: r["events_per_sec"]) for c, rs in runs.items()}
    levels = sorted(best)
    if len(levels) >= 2:
        lo, hi = best[levels[0]], best[levels[-1]]
        ratio = hi["cpus"] / lo["cpus"]
        speedup = hi["events_per_sec"] / lo["events_per_sec"]
        print(json.dumps({
            "metric": "CDC replay scaling efficiency (best-of interleaved repeats)",
            "cores": [lo["cpus"], hi["cpus"]],
            "events_per_sec": [lo["events_per_sec"], hi["events_per_sec"]],
            "jvm_cpu_sec": [lo["jvm_cpu_sec"], hi["jvm_cpu_sec"]],
            "speedup": round(speedup, 3),
            "efficiency": round(speedup / ratio, 3),
        }))


if __name__ == "__main__":
    main()
