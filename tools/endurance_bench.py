"""Table-growth endurance: per-batch apply cost vs table size.

The core-axis evidence (tools/scale_bench.py: N→4N efficiency ≥0.8) says the
engine scales OUT; this tool supplies the TIME axis the 10^10-event claim also
needs: as the replay proceeds and the target table grows, does the cost of
applying a CONSTANT-size micro-batch stay O(batch + touched-bucket deltas), or
does it creep toward O(table)? At 10^10 events the table is 10^9+ rows — a
per-batch cost that grows with table size is a design that dies mid-replay no
matter how well one batch scales across executors.

Protocol: one deterministic feed of B equal micro-batches (generator batch ids,
same feed for every strategy), applied in order into a fresh table per
strategy. Per batch we record wall seconds and the table's live-file bytes.
The summary prints, per strategy, the mean per-batch seconds over the FIRST
quarter vs the LAST quarter (after a 2-batch JIT warmup cut) and their ratio —
`growth_ratio` ≈ 1.0 is the flat-cost claim; CoW is expected to degrade
(every batch rewrites each touched bucket in full, and with uniform keys every
bucket is touched, so the rewrite is effectively the whole table) while MoR
with auto-compaction stays near-flat (deltas are O(batch); compaction folds a
bucket only past the file threshold and is itself per-bucket).

Usage:
  python tools/endurance_bench.py                      # 24 batches x 1M events
  python tools/endurance_bench.py --strategies mor     # MoR only
  python tools/endurance_bench.py --events 8000000 --batches 8 --cpus 8
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

FEED_DIR = os.environ.get("ENDURANCE_FEED_DIR", "/tmp/cps-endurance-feed")


def prep(num_events: int, num_keys: int, num_batches: int) -> None:
    """Feed built in a subprocess so its JVM dies before any timed worker
    (same rationale as tools/scale_bench.py:prep)."""
    marker = os.path.join(
        FEED_DIR, f".ready-{num_events}-{num_keys}-{num_batches}"
    )
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

    spark = get_spark(app_name="cps-endurance-prep", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    df = generate_change_log(
        spark, num_events, num_keys, seed=44, num_batches=num_batches,
        max_tokens=64, parallelism=64,
    )
    write_change_log(df, FEED_DIR)
    spark.stop()


def _live_stats(table) -> dict:
    """Live-table size from the CURRENT manifest — superseded generations
    linger on disk until expire_snapshots, so a raw data/ scan would conflate
    retention policy with table growth."""
    m = table.manifest()
    total = 0
    deltas = 0
    for f in m.files:
        if f.kind == "delta":
            deltas += 1
        try:
            total += os.path.getsize(os.path.join(table.path, f.path))
        except OSError:
            pass
    return {"table_bytes": total, "live_files": len(m.files),
            "delta_files": deltas}


def worker(cpus: int, num_batches: int, strategy: str,
           compact_mode: str = "full") -> None:
    import tempfile

    from pyspark.sql import functions as F

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.cdc.generator import CHANGE_LOG_SCHEMA
    from concepts_pipeline_spark.session import get_spark

    from __spark_entry__ import TOKENS_SCHEMA

    spark = get_spark(app_name=f"cps-endurance-{strategy}", cpus=cpus,
                      shuffle_partitions=max(4 * cpus, 8),
                      extra_conf={
                          "spark.driver.extraJavaOptions": "-XX:+UseParallelGC"
                      })
    spark.sparkContext.setLogLevel("ERROR")
    feed = spark.read.schema(CHANGE_LOG_SCHEMA).parquet(f"file://{FEED_DIR}")
    root = tempfile.mkdtemp(prefix=f"cps-endurance-{strategy}-")
    pipe = CdcPipeline(
        spark, f"{root}/tokens", TOKENS_SCHEMA, ["doc_id"],
        num_buckets=32, strategy=strategy,
        # fold a bucket when its delta pile passes 4 files: compaction cost is
        # INSIDE the timed loop — the flat-cost claim must include maintenance
        auto_compact_max_deltas=4 if strategy == "mor" else None,
        auto_compact_mode=compact_mode,
    )
    batches = []
    for b in range(num_batches):
        batch = feed.filter(F.col("batch_id") == b).drop("batch_id")
        t0 = time.time()
        res = pipe.apply_batch(batch, fence_token=f"endure:{b}")
        dt = time.time() - t0
        batches.append({
            "batch": b,
            "sec": round(dt, 2),
            "rows_in": res.rows_in,
            **_live_stats(pipe.target),
        })
        print(json.dumps(batches[-1]), flush=True)
    final_rows = pipe.final_state().count()
    print(json.dumps({
        "strategy": strategy, "cpus": cpus, "final_rows": final_rows,
        "batches": batches,
    }), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=24_000_000)
    ap.add_argument("--keys", type=int, default=8_000_000)
    ap.add_argument("--batches", type=int, default=24)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--strategies", nargs="+", default=["mor", "cow"])
    ap.add_argument("--compact-mode", default="full",
                    choices=["full", "tiered"])
    ap.add_argument("--worker", default=None, choices=["mor", "cow"])
    ap.add_argument("--prep-worker", action="store_true")
    args = ap.parse_args()

    if args.prep_worker:
        prep_worker(args.events, args.keys, args.batches)
        return
    if args.worker is not None:
        worker(args.cpus, args.batches, args.worker, args.compact_mode)
        return

    prep(args.events, args.keys, args.batches)
    summary = {}
    for strategy in args.strategies:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--worker", strategy, "--cpus", str(args.cpus),
             "--batches", str(args.batches),
             "--compact-mode", args.compact_mode],
            capture_output=True, text=True, cwd=REPO,
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-4000:])
            raise RuntimeError(f"worker ({strategy}) rc={out.returncode}")
        result = json.loads(lines[-1])
        print(json.dumps(result), flush=True)
        rows = result["batches"][2:]  # cut the 2-batch JIT warmup
        q = max(1, len(rows) // 4)
        first = sum(r["sec"] for r in rows[:q]) / q
        last = sum(r["sec"] for r in rows[-q:]) / q
        summary[strategy] = {
            "first_quarter_sec_per_batch": round(first, 2),
            "last_quarter_sec_per_batch": round(last, 2),
            "growth_ratio": round(last / first, 3),
            "final_rows": result["final_rows"],
            "final_table_mb": round(
                result["batches"][-1]["table_bytes"] / 1e6, 1
            ),
        }
    print(json.dumps({
        "metric": "per-batch apply cost vs table growth (constant batch size)",
        "events": args.events, "batches": args.batches, "cpus": args.cpus,
        "compact_mode": args.compact_mode, "strategies": summary,
    }))


if __name__ == "__main__":
    main()
