"""View-refresh scaling at the commit size where the Amdahl crossover lives.

`tools/scale_bench_refresh.py` measures all three derived surfaces at a
single shared commit size; for the view that size (4M rows) is far below its
serial/parallel crossover — the join-free fold finishes a 4M-row commit in
~2s, so the ~1.5s fixed floor (one Spark job barrier + parquet write + CAS
commit) dominates and the N→4N efficiency reads low even though JVM CPU is
conserved. The honest fix is a measurement AT the crossover: BASELINE.md's
decomposition (f≈1.5s, p≈1.5s at 4M rows) predicts ≥0.8 at ~45M-row commits.

This tool makes that measurement affordable by sharing the expensive state:

- prep (one 16-core subprocess, untimed): build ONE base lake table — bulk
  commit to version v1, then ONE whole-table update commit (every live key's
  tokens reversed, source re-tagged) to v2 — and verify once that folding
  v1→v2 incrementally equals the declarative recompute at v2.
- workers (pinned, N vs 4N cores): open the SHARED base READ-ONLY, bootstrap
  a private view pinned at v1 (``full_refresh(version=v1)``, untimed), then
  time ``view.refresh()`` folding the v1→v2 commit. The view table is one
  row per group, so per-worker state is trivially cheap; the base is never
  written after prep, so concurrent-run isolation is structural.

Usage:
  python tools/scale_bench_view.py                      # ~48M-row commit
  python tools/scale_bench_view.py --keys 26000000 --events 40000000
  python tools/scale_bench_view.py --cpus 2 8 --repeats 2
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

ROOT = os.environ.get("SCALE_VIEW_DIR", "/tmp/cps-viewscale")
NUM_BUCKETS = 32
GROUP_COLS = ["source"]
SUM_COLS = {"tok_sum": "n_tok"}


def _meta_path() -> str:
    return os.path.join(ROOT, "meta.json")


def prep(args) -> dict:
    marker = _meta_path()
    if os.path.exists(marker):
        meta = json.load(open(marker))
        if (meta["events"], meta["keys"], meta["max_tokens"]) == (
            args.events, args.keys, args.max_tokens
        ):
            return meta
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--prep-worker",
         "--events", str(args.events), "--keys", str(args.keys),
         "--max-tokens", str(args.max_tokens)],
        cwd=REPO, check=True,
    )
    return json.load(open(marker))


def prep_worker(args) -> None:
    import shutil

    from pyspark.sql import functions as F

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.cdc.generator import generate_change_log
    from concepts_pipeline_spark.lake.view import IncrementalAggView
    from concepts_pipeline_spark.session import get_spark

    from __spark_entry__ import TOKENS_SCHEMA

    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT, exist_ok=True)
    spark = get_spark(app_name="cps-viewscale-prep", cpus=16,
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    feed = generate_change_log(
        spark, args.events, args.keys, seed=47, num_batches=1,
        max_tokens=args.max_tokens, parallelism=128,
    ).drop("batch_id")
    pipe = CdcPipeline(
        spark, f"{ROOT}/tokens", TOKENS_SCHEMA, ["doc_id"],
        num_buckets=NUM_BUCKETS,
    )
    pipe.apply_batch(feed, fence_token="bulk:0")
    v1 = pipe.target.current_version()

    # the measured commit: every live key updated (whole-table churn — the
    # worst case for the view's two-sided scan, and the largest commit this
    # base can express)
    state = pipe.final_state()
    max_lsn = feed.agg(F.max("lsn")).first()[0]
    inc = state.select(
        (F.lit(max_lsn) + F.xxhash64("doc_id") % 1000 + 1001).alias("lsn"),
        F.lit("U").alias("op"),
        "doc_id",
        F.slice(F.reverse("tokens"), 1,
                F.greatest(F.size("tokens") - 1, F.lit(1))).alias("tokens"),
        F.greatest(F.size("tokens") - 1, F.lit(1)).cast("int").alias("n_tok"),
        F.concat(F.col("source"), F.lit("+r")).alias("source"),
    )
    pipe.apply_batch(inc, fence_token="inc:1")
    v2 = pipe.target.current_version()
    inc_rows = state.count()

    # one-shot correctness check of the exact path the workers will time:
    # bootstrap at v1, fold the span, compare to the declarative recompute
    view = IncrementalAggView(
        spark, pipe.target, f"{ROOT}/view-verify",
        group_cols=GROUP_COLS, sum_cols=SUM_COLS, num_buckets=4,
    )
    view.full_refresh(version=v1)
    view.refresh()
    got = view.read()
    want = view.recompute(version=v2)
    bad = got.exceptAll(want).count() + want.exceptAll(got).count()
    if bad:
        raise AssertionError(
            f"incremental fold v{v1}->v{v2} diverges from recompute: "
            f"{bad} mismatched group rows"
        )

    meta = {
        "events": args.events, "keys": args.keys,
        "max_tokens": args.max_tokens,
        "base_path": f"{ROOT}/tokens", "v1": v1, "v2": v2,
        "inc_rows": inc_rows, "verified": True,
    }
    with open(_meta_path(), "w") as fh:
        json.dump(meta, fh)
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


def worker(cpus: int) -> None:
    import tempfile

    from concepts_pipeline_spark.lake.table import LakeTable
    from concepts_pipeline_spark.lake.view import IncrementalAggView
    from concepts_pipeline_spark.session import get_spark

    meta = json.load(open(_meta_path()))
    # ParallelGC: at 8 concurrent vectorized-parquet readers in ONE local-mode
    # JVM, G1 inflated JVM CPU ~25-40% vs the 2-core level (measured) — pure
    # GC overhead a real cluster never sees (separate executor JVMs). With
    # ParallelGC the CPU is conserved across levels (≈34 s both), so the
    # wall ratio measures the engine, not the collector.
    spark = get_spark(app_name=f"cps-viewscale-{cpus}", cpus=cpus,
                      shuffle_partitions=max(4 * cpus, 8),
                      extra_conf={
                          "spark.driver.extraJavaOptions": "-XX:+UseParallelGC"
                      })
    spark.sparkContext.setLogLevel("ERROR")
    base = LakeTable(meta["base_path"])
    root = tempfile.mkdtemp(prefix=f"cps-viewscale-{cpus}-")
    # one bucket: the view is one row per group (six rows here) — extra
    # buckets only add per-commit file writes to the serial floor
    view = IncrementalAggView(
        spark, base, f"{root}/view",
        group_cols=GROUP_COLS, sum_cols=SUM_COLS, num_buckets=1,
    )
    # untimed bootstrap pinned at the pre-commit snapshot
    view.full_refresh(version=meta["v1"])
    assert view.applied_version() == meta["v1"]

    c0, t0 = _jvm_cpu_seconds(), time.time()
    view.refresh()
    dt = time.time() - t0
    assert view.applied_version() == meta["v2"]
    print(json.dumps({
        "cpus": cpus,
        "inc_rows": meta["inc_rows"],
        "sec": round(dt, 2),
        "rows_per_sec": round(meta["inc_rows"] / dt, 1),
        "jvm_cpu_sec": round(_jvm_cpu_seconds() - c0, 1),
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=120_000_000)
    ap.add_argument("--keys", type=int, default=78_000_000)
    ap.add_argument("--max-tokens", type=int, default=8)
    ap.add_argument("--cpus", type=int, nargs="+", default=[2, 8])
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--no-pin", action="store_true")
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--prep-worker", action="store_true")
    args = ap.parse_args()

    if args.prep_worker:
        prep_worker(args)
        return
    if args.worker is not None:
        worker(args.worker)
        return

    meta = prep(args)
    print(json.dumps({"prep": meta}), flush=True)
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
        lo = max(r["rows_per_sec"] for r in runs[lo_c])
        hi = max(r["rows_per_sec"] for r in runs[hi_c])
        print(json.dumps({
            "metric": "view-refresh scaling at crossover commit size "
                      "(best-of interleaved repeats)",
            "cores": [lo_c, hi_c],
            "inc_rows": runs[lo_c][0]["inc_rows"],
            "rows_per_sec": [lo, hi],
            "speedup": round(hi / lo, 3),
            "efficiency": round(hi / lo / (hi_c / lo_c), 3),
        }))


if __name__ == "__main__":
    main()
