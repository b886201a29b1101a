"""spark-submit entry point for the CDC replay — the north rule's deployment
shape, exercised for real:

    python tools/package.py /tmp/dist        # build the --py-files zip

    # one-time feed prep (deterministic generator, fixed parallelism)
    spark-submit --py-files /tmp/dist/concepts_pipeline_spark.zip \
        tools/submit_replay.py --prep --events 4000000 --keys 400000 \
        --batches 2 --feed /tmp/cps-feed

    # timed replay at a parallelism level (run at N and 4N for scaling)
    spark-submit --master local[8] \
        --py-files /tmp/dist/concepts_pipeline_spark.zip \
        tools/submit_replay.py --feed /tmp/cps-feed --batches 2 \
        --strategy mor --out /tmp/cps-table-8

Everything the job needs comes from the --py-files zip (catches any accidental
repo-relative dependency); the session is the one spark-submit builds, so
--master/--conf behave exactly as they would on a cluster. Prints ONE JSON
line with throughput. tests/test_spark_submit.py runs this end-to-end.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--feed", required=True, help="feed parquet dir")
    ap.add_argument("--prep", action="store_true", help="generate the feed and exit")
    ap.add_argument("--events", type=int, default=100_000)
    ap.add_argument("--keys", type=int, default=10_000)
    ap.add_argument("--batches", type=int, default=2)
    ap.add_argument("--strategy", default="mor", choices=["cow", "mor"])
    ap.add_argument("--out", default=None, help="table root (default: tmpdir)")
    args = ap.parse_args()

    # Imports resolve from the --py-files zip; the session comes from
    # spark-submit (no master/config override here — cluster-faithful).
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.cdc.generator import (
        CHANGE_LOG_SCHEMA,
        generate_change_log,
        write_change_log,
    )

    spark = SparkSession.builder.appName("cps-submit-replay").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if args.prep:
        df = generate_change_log(
            spark, args.events, args.keys, seed=42, num_batches=args.batches,
            max_tokens=256, parallelism=32,
        )
        write_change_log(df, args.feed)
        print(json.dumps({"prep": True, "events": args.events, "feed": args.feed}))
        spark.stop()
        return

    tokens_schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ])
    feed = spark.read.schema(CHANGE_LOG_SCHEMA).parquet(args.feed)
    n_events = feed.count()
    root = args.out or tempfile.mkdtemp(prefix="cps-submit-")
    pipe = CdcPipeline(
        spark,
        target_path=f"{root}/tokens",
        target_schema=tokens_schema,
        key_cols=["doc_id"],
        quarantine_path=f"{root}/quarantine",
        lineage_path=f"{root}/lineage",
        num_buckets=32,
        strategy=args.strategy,
    )
    t0 = time.time()
    applied = 0
    for b in range(args.batches):
        batch = feed.filter(F.col("batch_id") == b).drop("batch_id")
        res = pipe.apply_batch(batch, fence_token=f"submit:{b}")
        applied += res.rows_in
    elapsed = time.time() - t0
    final_rows = pipe.final_state().count()
    print(json.dumps({
        "master": spark.sparkContext.master,
        "strategy": args.strategy,
        "events": n_events,
        "applied": applied,
        "elapsed_sec": round(elapsed, 2),
        "events_per_sec": round(n_events / elapsed, 1),
        "final_rows": final_rows,
        "table_root": root,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
