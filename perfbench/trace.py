"""Per-layer tracing for ``--trace 1`` runs.

Spans are recorded from the benchmark's own files: :meth:`Tracer.install`
wraps the engine's public functions where they are bound (the module
attribute, the importing module's copy, or the ``LakeTable`` class), and the
benchmark opens spans around the lazy reads it materialises itself. Each span
that can run Spark work tags its jobs with a local property and a job
description; after the session stops, the local event log is parsed and every
task's counters are charged to the span that submitted its job. A span's
Spark counters include its children's; its self time is its wall time minus
the part its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

# spans whose Spark jobs are attributed from the event log
SPARK_SPANS = (
    "cdc.apply.apply_batch",
    "cdc.apply.sync_snapshot",
    "lake.merge.merge_into",
    "lake.merge.compact_tiered",
    "lake.merge.read_for_keys",
    "lake.merge.read_merged",
    "lake.merge.read_appended_since",
    "lake.table.write_data_files",
    "lake.table.append",
)
SPARK_FIELDS = (
    ("wall_s", "s"), ("self_s", "s"), ("spark_jobs", "count"),
    ("spark_stages", "count"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("scheduler_wait_s", "s"), ("input_bytes", "bytes"),
    ("output_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("task_skew", "ratio"),
)
# spans that run no Spark job (JSON and pyarrow work in the Python process)
LOCAL_METRICS = (
    ("session.get_spark.wall_s", "s"),
    ("lake.table.commit.wall_s", "s"),
    ("lake.table.commit.manifest_bytes", "bytes"),
    ("lake.table.manifest.calls", "count"),
    ("lake.table.manifest.wall_s", "s"),
    ("lake.table.append_rows.wall_s", "s"),
)
# counters the workloads compute from results, manifests and stream hooks
DERIVED_METRICS = (
    ("streaming.runner.trigger_gap_s", "s"),
    ("cdc.apply.quarantined_frac", "ratio"),
    ("operators.lww.fold_ratio", "ratio"),
    ("lake.merge.merge_into.retries", "count"),
    ("lake.merge.merge_into.carried_per_applied", "ratio"),
    ("lake.merge.compact_tiered.compactions", "count"),
    ("lake.merge.compact_tiered.bytes_rewritten", "bytes"),
    ("lake.merge.read_for_keys.rows_scanned_per_row_returned", "ratio"),
    ("lake.merge.delta_files_per_bucket", "count"),
    ("lake.table.write_data_files.bytes", "bytes"),
    ("lake.table.write_data_files.files", "count"),
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in output order."""
    out = {f"{s}.{f}": u for s in SPARK_SPANS for f, u in SPARK_FIELDS}
    out.update(LOCAL_METRICS)
    out.update(DERIVED_METRICS)
    return out


class Span:
    __slots__ = ("id", "parent", "name", "t0", "t1", "counted", "opaque", "info")

    def __init__(self, sid, parent, name, counted, opaque):
        self.id, self.parent, self.name = sid, parent, name
        self.counted, self.opaque = counted, opaque
        self.t0 = time.time()
        self.t1 = None
        self.info: dict = {}


class Tracer:
    """Records spans in memory; :meth:`layer_metrics` turns them, with the
    event log, into the per-layer table."""

    def __init__(self):
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, once the session is up
        self.measuring = False  # spans opened while False are not reported
        self.merge_attempts = 0  # merge_into's internal commit attempts
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(SPAN_PROP, None if span is None else str(span.id))
        self.sc.setJobDescription(None if span is None else span.name)

    @contextmanager
    def span(self, name: str, opaque: bool = False):
        """``opaque``: descendants are charged to this span only (a sync
        runs a whole apply_batch inside; it must not count as one)."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        hidden = parent is not None and (parent.opaque or not parent.counted)
        with self._lock:
            s = Span(len(self.spans), parent.id if parent else None, name,
                     self.measuring and not hidden, opaque)
            self.spans.append(s)
        stack.append(s)
        tagged = name in SPARK_SPANS
        if tagged:
            self._tag(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            stack.pop()
            if tagged:
                # restore the enclosing tagged span (or clear the tag)
                self._tag(next((p for p in reversed(stack) if p.name in SPARK_SPANS), None))

    def wrap(self, owner, attr: str, name: str, opaque: bool = False,
             info=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; ``info(span,
        args, result)`` may record counters after the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, opaque) as s:
                result = orig(*args, **kwargs)
            if info is not None:
                info(s, args, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the engine's public functions at every place they are bound."""
        from concepts_pipeline_spark import lake, session
        from concepts_pipeline_spark.cdc import apply as cdc_apply
        from concepts_pipeline_spark.lake import merge
        from concepts_pipeline_spark.lake.table import LakeTable

        self.wrap(session, "get_spark", "session.get_spark")
        self.wrap(cdc_apply.CdcPipeline, "apply_batch", "cdc.apply.apply_batch")
        self.wrap(cdc_apply.CdcPipeline, "sync_snapshot",
                  "cdc.apply.sync_snapshot", opaque=True)
        # cdc.apply imported merge_into by name: patch that binding too
        for owner in (merge, lake, cdc_apply):
            self.wrap(owner, "merge_into", "lake.merge.merge_into", info=_merge_info)
        # merge_into retries on a lost commit race by calling this again
        attempt = merge._merge_into_once

        def counted_attempt(*args, **kwargs):
            stack = self._stack()
            if stack and stack[-1].name == "lake.merge.merge_into" and stack[-1].counted:
                self.merge_attempts += 1
            return attempt(*args, **kwargs)

        self._patches.append((merge, "_merge_into_once", attempt))
        merge._merge_into_once = counted_attempt
        # apply_batch imports compact_tiered from the module at call time
        self.wrap(merge, "compact_tiered", "lake.merge.compact_tiered",
                  info=_compact_info)
        self.wrap(LakeTable, "write_data_files", "lake.table.write_data_files",
                  info=_files_info)
        self.wrap(LakeTable, "commit", "lake.table.commit", info=_commit_info)
        self.wrap(LakeTable, "manifest", "lake.table.manifest")
        self.wrap(LakeTable, "append", "lake.table.append")
        self.wrap(LakeTable, "append_rows", "lake.table.append_rows")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------------

    def layer_metrics(self, event_log_dir: str, derived: dict) -> dict:
        """The per-layer table: Spark spans' per-call means (task skew: median
        over calls), the Python-side spans, and the workload's derived counters."""
        spark = parse_event_log(event_log_dir)
        by_id = {s.id: s for s in self.spans}
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def inclusive(s: Span) -> dict:
            acc = dict(spark["spans"].get(s.id, _empty_counters()))
            acc["stage_tasks"] = list(acc.get("stage_tasks", []))
            for c in children.get(s.id, []):
                for k, v in inclusive(c).items():
                    acc[k] = acc[k] + v
            return acc

        def self_time(s: Span) -> float:
            iv = sorted((c.t0, c.t1) for c in children.get(s.id, []) if c.t1)
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in iv:
                lo, hi = max(lo, s.t0), min(hi, s.t1)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            return (s.t1 - s.t0) - covered

        def counted(name: str) -> list[Span]:
            return [s for s in self.spans if s.name == name and s.counted and s.t1]

        out: dict[str, float] = {}
        for name in SPARK_SPANS:
            calls = counted(name)
            inc = [inclusive(s) for s in calls]
            out[f"{name}.wall_s"] = _mean([s.t1 - s.t0 for s in calls])
            out[f"{name}.self_s"] = _mean([self_time(s) for s in calls])
            for f in ("spark_jobs", "spark_stages", "executor_cpu_s", "gc_s",
                      "scheduler_wait_s", "input_bytes", "output_bytes",
                      "shuffle_write_bytes"):
                out[f"{name}.{f}"] = _mean([c[f] for c in inc])
            skews = [_skew(c["stage_tasks"]) for c in inc if c["stage_tasks"]]
            out[f"{name}.task_skew"] = statistics.median(skews) if skews else 0.0

        gs = [s for s in self.spans if s.name == "session.get_spark" and s.t1]
        out["session.get_spark.wall_s"] = gs[0].t1 - gs[0].t0 if gs else 0.0
        for name in ("lake.table.commit", "lake.table.manifest",
                     "lake.table.append_rows"):
            out[f"{name}.wall_s"] = _mean([s.t1 - s.t0 for s in counted(name)])
        out["lake.table.commit.manifest_bytes"] = _mean(
            [s.info["manifest_bytes"] for s in counted("lake.table.commit")]
        )
        n_batches = len(counted("cdc.apply.apply_batch"))
        under_apply = [
            s for s in counted("lake.table.manifest")
            if _has_ancestor(s, by_id, "cdc.apply.apply_batch")
        ]
        out["lake.table.manifest.calls"] = _ratio(len(under_apply), n_batches)
        writes = counted("lake.table.write_data_files")
        for f in ("bytes", "files"):
            out[f"lake.table.write_data_files.{f}"] = _mean([s.info[f] for s in writes])
        merges = counted("lake.merge.merge_into")
        failed_tasks = sum(inclusive(s)["failed_tasks"] for s in merges)
        out["lake.merge.merge_into.retries"] = _ratio(
            self.merge_attempts - len(merges) + failed_tasks, len(merges)
        )
        out["lake.merge.merge_into.carried_per_applied"] = _ratio(
            sum(s.info["carried"] for s in merges), sum(s.info["applied"] for s in merges)
        )
        compacts = counted("lake.merge.compact_tiered")
        rewritten = sum(
            w.info["bytes"] for s in compacts for w in children.get(s.id, [])
            if w.name == "lake.table.write_data_files"
        )
        out["lake.merge.compact_tiered.compactions"] = _ratio(
            sum(1 for s in compacts if s.info["compacted"]), n_batches
        )
        out["lake.merge.compact_tiered.bytes_rewritten"] = _ratio(rewritten, n_batches)
        lookups = counted("lake.merge.read_for_keys")
        out["lake.merge.read_for_keys.rows_scanned_per_row_returned"] = _ratio(
            sum(inclusive(s)["records_read"] for s in lookups),
            sum(s.info["rows"] for s in lookups),
        )
        out.update(derived)
        units = per_layer_units()
        missing = [k for k in units if k not in out]
        if missing:
            raise RuntimeError(f"per-layer metrics not computed: {missing}")
        return {k: out[k] for k in units}


def _mean(xs: list) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _has_ancestor(s: Span, by_id: dict, name: str) -> bool:
    p = s.parent
    while p is not None:
        if by_id[p].name == name:
            return True
        p = by_id[p].parent
    return False


def _merge_info(span, args, stats) -> None:
    span.info.update(applied=stats.applied, carried=stats.carried)


def _compact_info(span, args, result) -> None:
    span.info["compacted"] = bool(result["consolidated"] or result["folded"])


def _files_info(span, args, result) -> None:
    table = args[0]
    entries = result[0] if isinstance(result, tuple) else result
    span.info["files"] = len(entries)
    span.info["bytes"] = sum(
        os.path.getsize(os.path.join(table.path, e.path)) for e in entries
    )


def _commit_info(span, args, m) -> None:
    table = args[0]
    root = os.path.join(table.path, table.manifest_dir, f"v{m.version:012d}.json")
    size = os.path.getsize(root)
    with open(root) as fh:
        for ref in json.load(fh).get("files_shards") or []:
            size += os.path.getsize(os.path.join(table.path, ref["path"]))
    span.info["manifest_bytes"] = size


def _empty_counters() -> dict:
    return {
        "spark_jobs": 0, "spark_stages": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "scheduler_wait_s": 0.0, "input_bytes": 0, "output_bytes": 0,
        "shuffle_write_bytes": 0, "records_read": 0, "failed_tasks": 0,
        "stage_tasks": [],
    }


def _skew(stage_tasks: list[list[float]]) -> float:
    """max/median task time in the stage with the most total task time."""
    biggest = max(stage_tasks, key=sum)
    med = statistics.median(biggest)
    return max(biggest) / med if med > 0 else 1.0


def parse_event_log(event_log_dir: str) -> dict:
    """Charge every task of a tagged job to its span: {"spans": {id: counters}}."""
    paths = glob.glob(os.path.join(event_log_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, got {paths}")
    stage_span: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    stage_tasks: dict[int, list[float]] = {}
    spans: dict[int, dict] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(SPAN_PROP)
                if tag is None:
                    continue
                c = spans.setdefault(int(tag), _empty_counters())
                c["spark_jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_span.setdefault(sid, int(tag))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                tag = (ev.get("Properties") or {}).get(SPAN_PROP)
                if tag is not None:
                    stage_span[sid] = int(tag)
                stage_submit[sid] = info.get("Submission Time") or 0
                if sid in stage_span:
                    spans.setdefault(stage_span[sid], _empty_counters())["spark_stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_span:
                    continue
                c = spans.setdefault(stage_span[sid], _empty_counters())
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                if ti.get("Failed"):
                    c["failed_tasks"] += 1
                c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                c["scheduler_wait_s"] += max(
                    0, ti["Launch Time"] - stage_submit.get(sid, ti["Launch Time"])
                ) / 1e3
                inp = tm.get("Input Metrics") or {}
                c["input_bytes"] += inp.get("Bytes Read", 0)
                c["records_read"] += inp.get("Records Read", 0)
                c["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                c["shuffle_write_bytes"] += (
                    tm.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                stage_tasks.setdefault(sid, []).append(
                    (ti["Finish Time"] - ti["Launch Time"]) / 1e3
                )
    for sid, durs in stage_tasks.items():
        spans[stage_span[sid]]["stage_tasks"].append(durs)
    return {"spans": spans}
