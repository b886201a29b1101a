"""The benchmark's workloads: closed loops over the engine's public functions.

Each workload function takes a :class:`Ctx` (an up Spark session, the landed
feed, the run directory, the tracer or None) and returns a :class:`Outcome`.
Timings use ``time.perf_counter`` around whole calls, including the
materialisation of the lazy DataFrames that reads return. Warm-up batches run
through the same code and are dropped. Everything that checks results runs
outside the timed regions.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.cdc.generator import CHANGE_LOG_SCHEMA
from concepts_pipeline_spark.lake import merge
from concepts_pipeline_spark.lake.merge import HIDDEN_DELETED
from concepts_pipeline_spark.streaming.runner import run_stream

from .check import Reference
from .feed import key_names

TOKENS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("tokens", ArrayType(IntegerType()), True),
    StructField("n_tok", IntegerType(), True),
    StructField("source", StringType(), True),
])
USER_COLS = ["doc_id", "tokens", "n_tok", "source"]

SETUP_REPS = 3  # set-up is repeated; setup_s uses the median rep
LOOKUP_KEYS = 16
DEADLINE_MARK = "perfbench-deadline"
# trickle_stream measures at least this many batches: a batch and its reads
# take ~3.5 s, so a short window held a varying count of them, and the medians
# jumped with the count
MIN_BATCHES = 4
# the tiered policy's schedule: one batch in this many also compacts
CYCLE_BATCHES = 5

# Per workload: feed shape and dropped loop batches (at least; sized from
# measured JIT convergence after set-up's three preload applies: trickle
# apply times fall for the first few batches, and the ones after the third
# are in a window of 4-5 measured batches, where the median is robust to
# them; on MoR the warm-up runs on to the end of the first compaction cycle,
# 4 batches). Both workloads look up 16 keys and scan after every batch.
SHAPES = {
    "trickle_stream": dict(num_keys=40_000, seg_events=4_000, skew=1.0, dump=True,
                           warmup=3),
    "mor_read_mix": dict(num_keys=40_000, seg_events=4_000, skew=3.0, dump=False,
                         warmup=2),
}


def feed_spec(workload: str, seed: int, seconds: int) -> dict:
    shape = SHAPES[workload]
    return {
        "seed": seed,
        "num_keys": shape["num_keys"],
        "preload": True,
        # two segments per second of measuring, beyond the warm-up and the
        # rest of the first MoR cycle: a batch and its reads cost ~2.5 s
        # now, so the feed lasts until they are ~4x faster
        "segments": shape["warmup"] + 2 * seconds + 8,
        "seg_events": shape["seg_events"],
        "skew": shape["skew"],
        "max_tokens": 64,
        "dup_pct": 5,
        "malformed_pct": 2,
        "delete_pct": 10,
        "dump_rows": shape["num_keys"] if shape["dump"] else 0,
    }


@dataclass
class Ctx:
    spark: object
    feed_dir: str
    feed: dict  # feed.json: spec + file names
    run_dir: str
    seconds: int
    seed: int
    tracer: object | None


@dataclass
class Outcome:
    setup_reps_s: list[float] = field(default_factory=list)
    apply_s: list[float] = field(default_factory=list)
    # samples behind apply_tail_s when the workload's batches have a slow
    # mode of their own (None: the tail percentile of apply_s)
    tail_s: list[float] | None = None
    events: int = 0
    apply_wall_s: float = 0.0
    lookup_s: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    write_bytes: int = 0
    table_bytes: int = 0
    live_rows: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    derived: dict = field(default_factory=dict)


def _span(ctx: Ctx, name: str, **kw):
    return ctx.tracer.span(name, **kw) if ctx.tracer else nullcontext()


def _measuring(ctx: Ctx, on: bool) -> None:
    if ctx.tracer:
        ctx.tracer.measuring = on


def _read_segment(ctx: Ctx, name: str):
    return ctx.spark.read.schema(CHANGE_LOG_SCHEMA).parquet(
        "file://" + os.path.join(ctx.feed_dir, name)
    )


def _pipeline(ctx: Ctx, root: str, strategy: str) -> CdcPipeline:
    kw = (
        dict(changes_path=f"{root}/changes") if strategy == "cow"
        else dict(auto_compact_max_deltas=4, auto_compact_mode="tiered")
    )
    return CdcPipeline(
        ctx.spark, f"{root}/target", TOKENS_SCHEMA, ["doc_id"],
        quarantine_path=f"{root}/quarantine", lineage_path=f"{root}/lineage",
        strategy=strategy, **kw,
    )


def _setup(ctx: Ctx, out: Outcome, strategy: str) -> CdcPipeline:
    """Create the tables and preload every key, SETUP_REPS times on fresh
    directories; the last rep's pipeline is the one the workload drives."""
    pipe = None
    for rep in range(SETUP_REPS):
        root = os.path.join(ctx.run_dir, f"rep{rep}")
        t0 = time.perf_counter()
        pipe = _pipeline(ctx, root, strategy)
        pipe.apply_batch(_read_segment(ctx, ctx.feed["preload"]), "preload")
        out.setup_reps_s.append(time.perf_counter() - t0)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(root)
    return pipe


def _tables(pipe: CdcPipeline) -> list:
    return [t for t in (pipe.target, pipe.quarantine, pipe.lineage, pipe.changes) if t]


def _versions(pipe: CdcPipeline) -> list[int]:
    return [t.current_version() for t in _tables(pipe)]


def _bytes_added(pipe: CdcPipeline, v0: list[int], v1: list[int]) -> int:
    """Data-file bytes added by every commit in (v0, v1], over all tables."""
    total = 0
    for t, a, b in zip(_tables(pipe), v0, v1):
        seen = {f.path for f in t.manifest(a).files}
        for v in range(a + 1, b + 1):
            for f in t.manifest(v).files:
                if f.path not in seen:
                    seen.add(f.path)
                    total += os.path.getsize(os.path.join(t.path, f.path))
    return total


def _live_bytes(pipe: CdcPipeline, version: int) -> int:
    t = pipe.target
    return sum(
        os.path.getsize(os.path.join(t.path, f.path)) for f in t.manifest(version).files
    )


def _lookup(ctx: Ctx, pipe: CdcPipeline, keys: list[str], batch: int,
            lookups: list) -> float:
    """One 16-key point lookup through ``read_for_keys`` (the recorder's
    mget); records the rows for the check and returns the latency."""
    t0 = time.perf_counter()
    with _span(ctx, "lake.merge.read_for_keys") as s:
        rows = (
            merge.read_for_keys(ctx.spark, pipe.target, keys)
            .filter(~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)))
            .select(*USER_COLS)
            .collect()
        )
    dt = time.perf_counter() - t0
    if s is not None:
        s.info["rows"] = len(rows)
    lookups.append({"batch": batch, "keys": keys, "rows": [tuple(r) for r in rows]})
    return dt


def _scan(ctx: Ctx, pipe: CdcPipeline) -> float:
    """Full scan: ``read_merged`` (MoR-resolved) live-row count; returns the
    latency."""
    t0 = time.perf_counter()
    with _span(ctx, "lake.merge.read_merged"):
        (
            merge.read_merged(ctx.spark, pipe.target)
            .filter(~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)))
            .count()
        )
    return time.perf_counter() - t0


def _live_table(ctx: Ctx, pipe: CdcPipeline):
    return pipe.final_state().select(*USER_COLS).toArrow()


def _fold_counters(results: list) -> dict:
    valid = sum(r.rows_in - r.quarantined for r in results)
    rows_in = sum(r.rows_in for r in results)
    winners = sum(
        r.stats.inserted + r.stats.updated + r.stats.deleted + r.stats.noop
        + r.stats.stale + r.stats.delete_missing for r in results
    )
    return {
        "cdc.apply.quarantined_frac": sum(r.quarantined for r in results) / rows_in,
        "operators.lww.fold_ratio": winners / valid,
    }


def _check_state(ctx: Ctx, out: Outcome, ref: Reference, pipe, last_batch: int,
                 results: list, lookups: list) -> None:
    """Final table, quarantine count and every lookup against the reference."""
    got = _live_table(ctx, pipe)
    extra, missing = ref.state_diff(got, last_batch)
    out.attempted += 1
    if extra or missing:
        out.failed += 1
        out.problems.append(f"final table: {extra} unexpected rows, {missing} missing")
    q_engine = sum(r.quarantined for r in results)
    q_ref = ref.quarantined(last_batch)
    out.attempted += 1
    if q_engine != q_ref:
        out.failed += 1
        out.problems.append(f"quarantined {q_engine} events, reference {q_ref}")
    bad = ref.lookup_failures(lookups)
    out.attempted += len(lookups)
    if bad:
        out.failed += bad
        out.problems.append(f"{bad} lookups returned wrong rows")


def _sync(ctx: Ctx, out: Outcome, ref: Reference, pipe: CdcPipeline) -> None:
    """Bulk mode: reconcile the table with a full source dump; afterwards the
    table must equal the dump."""
    dump = os.path.join(ctx.feed_dir, ctx.feed["dump"])
    snapshot = ctx.spark.read.parquet("file://" + dump)
    _measuring(ctx, True)
    t0 = time.perf_counter()
    pipe.sync_snapshot(snapshot, "sync")
    out.detail["sync_s"] = time.perf_counter() - t0
    _measuring(ctx, False)
    extra, missing = ref.dump_diff(_live_table(ctx, pipe), dump)
    out.attempted += 1
    if extra or missing:
        out.failed += 1
        out.problems.append(f"after sync: {extra} unexpected rows, {missing} missing")


def trickle_stream(ctx: Ctx) -> Outcome:
    """SQS mode: CoW table, one landed WAL segment per streaming trigger,
    with quarantine, lineage and the changes outbox; after each commit a
    consumer reads the new outbox rows and looks up samples of the changed
    keys (aggregator -> SNS -> recorder). In traced runs a full-snapshot
    sync follows, for the per-layer table only."""
    out = Outcome()
    shape = SHAPES["trickle_stream"]
    warmup = shape["warmup"]
    pipe = _setup(ctx, out, "cow")
    rng = np.random.default_rng([ctx.seed, 3])
    wal = os.path.join(ctx.run_dir, "wal")
    os.makedirs(wal)
    now = time.time()
    for i, name in enumerate(ctx.feed["segments"]):
        dst = os.path.join(wal, name)
        shutil.copyfile(os.path.join(ctx.feed_dir, name), dst)
        os.utime(dst, (now - 1000 + i, now - 1000 + i))  # trigger order = segment order

    st = {"cursor": pipe.changes.current_version(), "deadline": None}
    starts, applied_at, ends = {}, {}, {}
    results: dict[int, object] = {}
    lookups: list = []

    def on_batch(bid, _df):
        t = time.perf_counter()
        if bid == warmup:
            st["v0"] = _versions(pipe)
            st["deadline"] = t + ctx.seconds
            _measuring(ctx, True)
        elif (st["deadline"] is not None and t >= st["deadline"]
              and bid - warmup >= MIN_BATCHES):
            raise RuntimeError(DEADLINE_MARK)
        starts[bid] = t

    def after_batch(bid, res):
        applied_at[bid] = time.perf_counter()
        results[bid] = res
        measured = bid >= warmup
        with _span(ctx, "lake.merge.read_appended_since"):
            rows, st["cursor"] = merge.read_appended_since(
                ctx.spark, pipe.changes, st["cursor"]
            )
            changed = [r[0] for r in rows.select("doc_id").collect() if r[0] is not None]
        # two lookups of different samples: with one per batch, a run's
        # 4-6 lookups left the p75 tail spreading 0.15 over 10 seeds
        for _ in range(2):
            keys = (
                list(rng.choice(changed, LOOKUP_KEYS, replace=False))
                if len(changed) > LOOKUP_KEYS else changed
            )
            dt = _lookup(ctx, pipe, keys, bid, lookups)
            if measured:
                out.lookup_s.append(dt)
        # a CoW scan takes ~0.15 s and varied by a third within a run: with
        # one per batch its median spread 0.18 over 10 seeds
        for _ in range(3):
            dt = _scan(ctx, pipe)
            if measured:
                out.scan_s.append(dt)
        ends[bid] = time.perf_counter()

    handle = run_stream(
        ctx.spark, pipe, wal, os.path.join(ctx.run_dir, "checkpoint"),
        name="trickle", max_files_per_trigger=1, available_now=True,
        on_batch=on_batch, after_batch=after_batch,
    )
    try:
        handle.await_done()
    except Exception as e:  # the deadline stops the stream from inside a trigger
        if DEADLINE_MARK not in str(e):
            raise
    finally:
        handle.stop()
    _measuring(ctx, False)

    measured = sorted(b for b in results if b >= warmup)
    if not measured:
        raise RuntimeError("the stream ended before the warm-up finished")
    out.apply_s = [applied_at[b] - starts[b] for b in measured]
    out.events = sum(results[b].rows_in for b in measured)
    out.apply_wall_s = ends[measured[-1]] - starts[measured[0]]
    out.attempted += len(measured) + len(out.scan_s)
    v_end = _versions(pipe)
    out.write_bytes = _bytes_added(pipe, st["v0"], v_end)
    out.table_bytes = _live_bytes(pipe, v_end[0])
    gaps = [starts[b + 1] - ends[b] for b in measured if b + 1 in starts]
    res_list = [results[b] for b in measured]
    out.derived = {
        "streaming.runner.trigger_gap_s": sum(gaps) / len(gaps) if gaps else 0.0,
        **_fold_counters(res_list),
        "lake.merge.delta_files_per_bucket": 0.0,
    }
    out.detail.update(batches=len(measured), warmup_batches=warmup,
                      segments_landed=len(ctx.feed["segments"]))

    last = max(results)
    ref = Reference([os.path.join(ctx.feed_dir, f) for f in
                     [ctx.feed["preload"], *ctx.feed["segments"][: last + 1]]])
    try:
        out.live_rows = ref.live_rows(last)
        all_results = [results[b] for b in sorted(results)]
        _check_state(ctx, out, ref, pipe, last, all_results, lookups)
        if ctx.tracer:
            _sync(ctx, out, ref, pipe)
    finally:
        ref.close()
    return out


def mor_read_mix(ctx: Ctx) -> Outcome:
    """MoR table with tiered auto-compaction: a closed loop applies one
    Zipf-skewed segment per ``apply_batch``, then runs a uniform-random
    16-key lookup over the whole key space and a full ``read_merged`` scan.

    Batch cost and read fan-in cycle with compaction (appends while deltas
    pile up, then one batch that also compacts), so the loop measures whole
    cycles: the warm-up ends with a compacting batch, and the measured phase
    is as many whole cycles as fit in ``seconds`` at the warm-up's pace, at
    least one. Every run then sees the same mode mix and fan-in phases, and
    a cycle that ends near the deadline cannot make one run measure twice as
    long as the next."""
    out = Outcome()
    warmup = SHAPES["mor_read_mix"]["warmup"]
    pipe = _setup(ctx, out, "mor")
    rng = np.random.default_rng([ctx.seed, 4])
    universe = key_names(np.arange(ctx.feed["spec"]["num_keys"]))
    applied: list = []  # warm-up included, for the quarantine total
    lookups: list = []
    batches: list[dict] = []  # measured batches
    cycles = v0 = None
    last = -1
    t_loop = time.perf_counter()
    for s, name in enumerate(ctx.feed["segments"]):
        if cycles is not None and sum(b["compacted"] for b in batches) >= cycles:
            break
        before = pipe.target.current_version()
        t0 = time.perf_counter()
        res = pipe.apply_batch(_read_segment(ctx, name), f"seg-{s}")
        dt = time.perf_counter() - t0
        last = s
        applied.append(res)
        b = {"segment": s, "apply_s": dt, "res": res,
             # a batch that also compacted commits the target twice
             "compacted": pipe.target.current_version() - before > 1}
        m = pipe.target.manifest()
        b["fan_in"] = sum(f.kind == "delta" for f in m.files) / m.num_buckets
        b["lookup_s"] = _lookup(
            ctx, pipe, list(rng.choice(universe, LOOKUP_KEYS, replace=False)), s, lookups
        )
        # scan times climb with fan-in across a cycle: scanning after every
        # batch keeps each phase in every run's median; with one scan a
        # batch, the median of a cycle's five spread 0.15 over 10 seeds
        b["scan_s"] = [_scan(ctx, pipe) for _ in range(2)]
        if cycles is not None:
            batches.append(b)
        elif s + 1 >= warmup and b["compacted"]:
            v0 = _versions(pipe)
            cycle_s = (time.perf_counter() - t_loop) / (s + 1) * CYCLE_BATCHES
            cycles = max(1, round(ctx.seconds / cycle_s))
            _measuring(ctx, True)
    _measuring(ctx, False)
    if not batches or sum(b["compacted"] for b in batches) < cycles:
        raise RuntimeError("the feed ran out before the measured cycles finished")

    out.apply_s = [b["apply_s"] for b in batches]
    # the tail is the compaction mode, about one batch in five
    out.tail_s = [b["apply_s"] for b in batches if b["compacted"]]
    out.lookup_s = [b["lookup_s"] for b in batches]
    out.scan_s = [t for b in batches for t in b["scan_s"]]
    out.events = sum(b["res"].rows_in for b in batches)
    out.apply_wall_s = sum(out.apply_s)
    # applies and scans; lookups are counted by the check
    out.attempted += len(batches) + len(out.scan_s)
    v_end = _versions(pipe)
    out.write_bytes = _bytes_added(pipe, v0, v_end)
    out.table_bytes = _live_bytes(pipe, v_end[0])
    out.derived = {
        "streaming.runner.trigger_gap_s": 0.0,
        **_fold_counters([b["res"] for b in batches]),
        "lake.merge.delta_files_per_bucket":
            sum(b["fan_in"] for b in batches) / len(batches),
    }
    append = [b["apply_s"] for b in batches if not b["compacted"]]
    out.detail.update(
        batches=len(batches), cycles=cycles,
        warmup_batches=len(applied) - len(batches),
        append_batches=len(append), compact_batches=len(batches) - len(append),
        append_p50_s=float(np.median(append)) if append else None,
        compact_p50_s=float(np.median(out.tail_s)),
    )

    ref = Reference([os.path.join(ctx.feed_dir, f) for f in
                     [ctx.feed["preload"], *ctx.feed["segments"][: last + 1]]])
    try:
        out.live_rows = ref.live_rows(last)
        _check_state(ctx, out, ref, pipe, last, applied, lookups)
    finally:
        ref.close()
    return out


WORKLOADS = {"trickle_stream": trickle_stream, "mor_read_mix": mor_read_mix}
