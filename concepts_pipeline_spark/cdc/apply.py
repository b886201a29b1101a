"""The per-batch apply pipeline: validate → quarantine → LWW → fenced MERGE → lineage.

This is the engine's equivalent of the reference aggregator's stream
(ref: aggregator/.../ConceptsAggregator.scala:50-75 — extract → dedup → anti-join →
scripted bulk upsert → publish ids) collapsed into one declarative batch function,
driven either by a bulk replay loop or by Structured Streaming ``foreachBatch``.

Steps:
 1. validate events (JVM column expressions, whole-stage-codegen'd); malformed rows
    are appended to a quarantine table (ref analogue: ConceptExtractor warn+drop,
    ConceptExtractor.scala:81-118 — we keep the rejects queryable instead of just
    logging)
 2. LWW per key over LSN (operators.lww: one max_by hash aggregation whose map-side
    partial combine reduces hot keys before the shuffle)
 3. fenced MERGE INTO the target LakeTable (lake.merge)
 4. per-bucket lineage/metrics rows appended to a lineage table
    (ref analogue: BulkUpdateFlow result classification + running totals,
    common/.../BulkUpdateFlow.scala:107-166)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..lake import LakeTable, merge_into, MergeStats
from ..lake.table import (
    HIDDEN_COLV,
    HIDDEN_DELETED,
    HIDDEN_DLSN,
    HIDDEN_LSN,
    CommitConflict,
    retry_on_conflict,
    visible_fields,
)
from ..operators.lww import lww_fold_partial, lww_latest
from .generator import VOCAB_SIZE

LINEAGE_SCHEMA = StructType(
    [
        StructField("fence_token", StringType(), False),
        StructField("commit_version", LongType(), True),
        StructField("bucket", IntegerType(), True),
        StructField("inserted", LongType(), True),
        StructField("updated", LongType(), True),
        StructField("deleted", LongType(), True),
        StructField("noop", LongType(), True),
        StructField("stale", LongType(), True),
        StructField("carried", LongType(), True),
        StructField("delete_missing", LongType(), True),
        StructField("rows_in", LongType(), True),
        StructField("quarantined", LongType(), True),
        StructField("wall_ms", LongType(), True),
    ]
)

QUARANTINE_EXTRA = [StructField("reject_reason", StringType(), True)]


def valid_event_expr(
    op_col: str = "op",
    tokens_col: str = "tokens",
    n_tok_col: str | None = "n_tok",
    vocab_size: int = VOCAB_SIZE,
    partial: bool = False,
) -> F.Column:
    """Reject reason per event, NULL when valid. Pure column expressions (JVM-side,
    whole-stage-codegen'd) — the fast path. ``n_tok_col=None`` skips the
    count-consistency check (a feed that does not carry the count column —
    e.g. after a RENAME COLUMN — cannot be held to it).

    ``partial=True`` validates COLUMN-level change events (sparse after-images,
    update_mode='partial'): a NULL payload column means "no statement", so
    NULL tokens are valid — but the tokens↔n_tok invariant must still be
    enforceable, so the pair travels together: tokens present requires a
    matching n_tok, and an orphan n_tok (count without the array it counts)
    is rejected. Everything else (op set, vocab range, non-empty) is identical.
    """
    op, toks = F.col(op_col), F.col(tokens_col)
    # op.isNull() is explicit: under SQL three-valued logic ~isin(...) is NULL
    # (not true) for a NULL op, which would let a NULL-op event with a populated
    # after-image slip past every branch and be applied as a live upsert.
    expr = F.when(
        op.isNull() | ~op.isin("I", "U", "D"), F.lit("unknown_op")
    ).when(op == "D", F.lit(None).cast("string"))  # deletes carry no payload
    if partial:
        if n_tok_col is not None:
            # orphan count: n_tok set while tokens is "no statement" — the
            # invariant n_tok == size(tokens) could not be checked now nor
            # guaranteed later (the columns would carry different LSNs)
            expr = expr.when(
                toks.isNull() & F.col(n_tok_col).isNotNull(),
                F.lit("n_tok_mismatch"),
            )
        # sparse upsert with no tokens statement: valid
        expr = expr.when(toks.isNull(), F.lit(None).cast("string"))
    else:
        expr = expr.when(toks.isNull(), F.lit("null_tokens"))
    expr = expr.when(F.size(toks) == 0, F.lit("empty_tokens"))
    if n_tok_col is not None:
        n = F.col(n_tok_col)
        expr = expr.when(
            n.isNull() | (n != F.size(toks)), F.lit("n_tok_mismatch")
        )
    return (
        expr.when(
            F.exists(toks, lambda t: t.isNull() | (t < 0) | (t >= vocab_size)),
            F.lit("token_out_of_vocab"),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def validate_events(
    batch: DataFrame, vocab_size: int = VOCAB_SIZE
) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (valid, quarantined-with-reason)."""
    tagged = batch.withColumn(
        "reject_reason",
        valid_event_expr(
            vocab_size=vocab_size,
            n_tok_col="n_tok" if "n_tok" in batch.columns else None,
        ),
    )
    valid = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    rejects = tagged.filter(F.col("reject_reason").isNotNull())
    return valid, rejects


@dataclass
class ApplyResult:
    stats: MergeStats
    rows_in: int
    quarantined: int


class BatchRejectedError(RuntimeError):
    """Raised by apply_batch(on_reject='fail') when the batch contains any
    invalid event — the reference's all-or-nothing contract (BulkUpdateFlow
    throws on any item error and aborts the whole bulk request,
    ref: common/.../BulkUpdateFlow.scala:93-105). Nothing is committed:
    no target merge, no quarantine append, no lineage row."""

    def __init__(self, fence_token: str, reasons: dict[str, int]):
        self.fence_token = fence_token
        self.reasons = reasons
        total = sum(reasons.values())
        super().__init__(
            f"batch {fence_token!r} rejected: {total} invalid event(s) "
            f"{reasons} (on_reject='fail')"
        )


class BatchAuditError(RuntimeError):
    """Raised by apply_batch_wap when the audit callback rejects the staged
    batch. The staging branch has been dropped; the main table is untouched
    (no merge, no fence — the batch can be corrected and re-submitted under
    the same fence token)."""

    def __init__(self, fence_token: str, detail: str = ""):
        self.fence_token = fence_token
        super().__init__(
            f"batch {fence_token!r} failed write-audit-publish audit"
            + (f": {detail}" if detail else "")
        )


def staged_changes(spark: SparkSession, branch) -> DataFrame:
    """What a WAP publish would change: the CDF diff between the branch's fork
    snapshot and its head, computed inside the branch's own chain. This is the
    scale-correct audit input — O(changed buckets), never O(table) — for
    invariants over the batch's effect ("no key lost its tokens", "delete
    volume within tolerance"). Audits that scan the whole candidate state
    (branch.read) are fine at test scale but pay O(table) per batch."""
    from ..lake.diff import snapshot_diff

    return snapshot_diff(spark, branch, branch.fork_version(), branch.current_version())


class CdcPipeline:
    """Owns the three tables (target, quarantine, lineage) and applies batches.

    ``target_path`` etc. are directories; tables are created idempotently
    (ref analogue: Indices.create / Scripts.create, common/.../Indices.scala:17-37).
    """

    def __init__(
        self,
        spark: SparkSession,
        target_path: str,
        target_schema: StructType,
        key_cols: list[str],
        quarantine_path: str | None = None,
        lineage_path: str | None = None,
        changes_path: str | None = None,
        num_buckets: int = 16,
        update_mode: str = "replace",
        strategy: str = "cow",
        array_union_cols: list[str] | None = None,
        vocab_size: int = VOCAB_SIZE,
        lsn_col: str = "lsn",
        op_col: str = "op",
        auto_compact_max_deltas: int | None = None,
        auto_compact_mode: str = "tiered",
    ):
        self.spark = spark
        self.key_cols = key_cols
        self.update_mode = update_mode
        self.strategy = strategy
        # MoR write amplification is deferred, not free: without maintenance,
        # read-side LWW resolution degrades as deltas pile up. When set, each
        # applied batch folds any bucket whose delta count exceeds the
        # threshold (compact() is idempotent and fenced by the manifest CAS,
        # so a crash between merge and compaction loses nothing — the next
        # batch compacts)
        if auto_compact_max_deltas is not None and strategy != "mor":
            raise ValueError("auto_compact_max_deltas requires strategy='mor'")
        # the one automatic mode is size-tiered delta consolidation with
        # ratio-gated base folds (lake/merge.compact_tiered: O(log) write
        # amplification, bounded read fan-in). A fixed-count fold of every
        # bucket past the threshold makes per-batch cost grow with bucket
        # size (O(table²) total I/O over a long replay); the fixed-count
        # compact() stays an explicit maintenance call
        if auto_compact_mode != "tiered":
            raise ValueError("auto_compact_mode must be 'tiered'")
        self.auto_compact_max_deltas = auto_compact_max_deltas
        self.array_union_cols = array_union_cols
        self.vocab_size = vocab_size
        self.lsn_col = lsn_col
        self.op_col = op_col
        self.user_schema = target_schema
        # physical schema adds the hidden CDC columns: last-applied LSN per key and
        # the tombstone flag (deletes persist so stale redeliveries stay dead)
        physical_fields = list(target_schema.fields) + [
            StructField(HIDDEN_LSN, LongType(), True),
            StructField(HIDDEN_DELETED, BooleanType(), True),
        ]
        if update_mode == "partial":
            # column-level CDC: per-column version vector + persisted delete
            # barrier (operators.lww.lww_fold_partial / merge 'partial' mode;
            # under strategy='mor' batches append register deltas and
            # lake.merge.resolve_rows folds them per column at read time)
            from pyspark.sql.types import MapType

            physical_fields += [
                StructField(HIDDEN_COLV, MapType(StringType(), LongType()), True),
                StructField(HIDDEN_DLSN, LongType(), True),
            ]
        physical = StructType(physical_fields)
        self.target = LakeTable.create(
            target_path, physical, key_cols, num_buckets, if_not_exists=True
        )
        self.quarantine: LakeTable | None = None
        self.lineage: LakeTable | None = None
        if quarantine_path:
            # quarantine keeps the raw event + reason, keyed by lsn (append-only)
            q_schema = StructType(
                [f for f in CHANGE_BATCH_FIELDS_HINT(target_schema, lsn_col, op_col)]
                + QUARANTINE_EXTRA
            )
            self.quarantine = LakeTable.create(
                quarantine_path, q_schema, [lsn_col], num_buckets=4, if_not_exists=True
            )
        if lineage_path:
            self.lineage = LakeTable.create(
                lineage_path, LINEAGE_SCHEMA, ["fence_token"], num_buckets=1,
                if_not_exists=True,
            )
        self.changes: LakeTable | None = None
        if changes_path and strategy != "cow":
            # MoR appends deltas without reading the target, so per-key action
            # classification (which feeds the outbox) does not exist there
            raise ValueError(
                "changes_path (downstream outbox) requires strategy='cow' — "
                "merge-on-read never classifies per-key actions"
            )
        if changes_path:
            # downstream change outbox (ref: publishIds + TopicPublisher,
            # aggregator/ConceptsAggregator.scala:120-124): only keys whose merge
            # action was inserted/updated/deleted, appended per batch
            # key cols nullable: the crash-recovery "outbox_hole" marker row
            # (_close_outbox_hole) carries NULL keys
            changes_schema = StructType(
                [StructField(k, target_schema[k].dataType, True) for k in key_cols]
                + [
                    StructField("action", StringType(), False),
                    StructField("fence_token", StringType(), True),
                ]
            )
            self.changes = LakeTable.create(
                changes_path, changes_schema, key_cols, num_buckets=4,
                if_not_exists=True,
            )

    # ------------------------------------------------------------------

    def apply_batch(
        self,
        batch: DataFrame,
        fence_token: str,
        on_reject: str = "quarantine",
    ) -> ApplyResult:
        """Validate + LWW + fenced merge + lineage for one change batch.

        ``on_reject``: 'quarantine' (default) routes invalid events to the
        quarantine table and applies the rest — the data-pipeline-friendly
        contract; 'fail' raises :class:`BatchRejectedError` before ANY commit
        when the batch holds even one invalid event — the reference's
        abort-the-bulk-request behavior (BulkUpdateFlow.scala:93-105).

        The events do not depend on the table, so a lost commit race re-runs
        the whole apply against the winner's snapshot (``retry_on_conflict``);
        a racer that applied the same fence turns the retry into a skip."""
        return retry_on_conflict(
            lambda: self._apply_batch_once(batch, fence_token, on_reject)
        )

    def _close_outbox_hole(self, fence_token: str) -> None:
        """The outbox is appended AFTER the target commit, so a crash in
        between leaves the target fenced but the outbox missing the batch's
        rows. The per-key diff cannot be recomputed once the merge has
        applied, so close the hole with an explicit fenced marker (no-op
        when the rows or the marker already landed)."""
        ct_fence = f"{fence_token}:c"
        if self.changes is None or self.changes.has_fence_token(ct_fence):
            return
        self.changes.append_rows(
            [{
                **{k: None for k in self.key_cols},
                "action": "outbox_hole",
                "fence_token": fence_token,
            }],
            fence_token=ct_fence,
        )

    def _apply_batch_once(
        self,
        batch: DataFrame,
        fence_token: str,
        on_reject: str,
        update_mode: str | None = None,
    ) -> ApplyResult:
        """One attempt of :meth:`apply_batch`; ``update_mode`` overrides the
        table's mode for this batch (a full-snapshot sync)."""
        if on_reject not in ("quarantine", "fail"):
            raise ValueError("on_reject must be 'quarantine' or 'fail'")
        if self.target.has_fence_token(fence_token):
            # replayed batch (foreachBatch retry / restart): already applied.
            # A crash BETWEEN the target commit and the lineage append would
            # otherwise leave a permanent lineage hole — close it with a fenced
            # recovery marker (no-op when the lineage row already landed).
            if self.lineage is not None and not self.lineage.has_fence_token(
                f"{fence_token}:l"
            ):
                self.lineage.append_rows(
                    [{
                        "fence_token": fence_token, "commit_version": None,
                        "bucket": -1, "inserted": 0, "updated": 0, "deleted": 0,
                        "noop": 0, "stale": 0, "carried": 0, "delete_missing": 0,
                        "rows_in": 0, "quarantined": 0, "wall_ms": 0,
                    }],
                    fence_token=f"{fence_token}:l",
                )
            self._close_outbox_hole(fence_token)
            return ApplyResult(
                stats=MergeStats(skipped=True, version=self.target.current_version()),
                rows_in=0,
                quarantined=0,
            )
        work_cols = [c for c in batch.columns if c != "batch_id"]
        batch = batch.select(*work_cols)
        tagged = batch.withColumn(
            "reject_reason",
            valid_event_expr(
                vocab_size=self.vocab_size,
                n_tok_col="n_tok" if "n_tok" in batch.columns else None,
                # the TABLE's mode: a sync's per-call 'replace' override
                # still lands sparse NULLs on a column-level table
                partial=self.update_mode == "partial",
            ),
        )

        if on_reject == "fail":
            # strict mode checks BEFORE any write: one aggregation over the
            # reject reasons (tiny result), raise if non-empty
            reasons = {
                r["reject_reason"]: r["n"]
                for r in tagged.filter(F.col("reject_reason").isNotNull())
                .groupBy("reject_reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if reasons:
                raise BatchRejectedError(fence_token, reasons)

        # Probe (rows_in for lineage + touched target buckets for file pruning).
        # Buckets are taken over all events (valid or not): a superset of the
        # LWW winners' buckets, so pruning stays sound; a bucket touched only by
        # invalid events merely rewrites unchanged ('carried').
        #
        # The probe RIDES THE QUARANTINE PASS as an Observation: the observe
        # node sits below the reject filter, so every batch row flows through it
        # during the quarantine write and the per-batch job count drops by one
        # (the fixed cost that dominated small-batch replay). Fallbacks — no
        # quarantine table, fenced replay, lost metrics — run the explicit
        # KEY-COLUMN-ONLY probe job (Parquet pruning never decodes the token
        # arrays there).
        from pyspark.sql import Observation

        from ..lake.table import bucket_expr

        num_buckets = self.target.manifest().num_buckets
        bexpr = bucket_expr(self.key_cols, num_buckets)
        probe_metrics = None
        n_rejects = 0
        valid = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
        if self.quarantine is not None:
            obs = Observation()
            observed = tagged.observe(
                obs,
                F.count(F.lit(1)).alias("rows_in"),
                F.collect_set(bexpr).alias("buckets"),
            )
            rejects = observed.filter(F.col("reject_reason").isNotNull())
            committed = self.quarantine.append(rejects, fence_token=f"{fence_token}:q")
            if committed is not None:
                # reject count from the append's own commit summary — no extra job
                n_rejects = int(committed.summary.get("rows", 0))
                try:
                    probe_metrics = obs.get
                except Exception:
                    probe_metrics = None
            else:
                # crash-recovery replay: quarantine already fenced — count the
                # (tiny) reject set directly
                n_rejects = tagged.filter(F.col("reject_reason").isNotNull()).count()
        if probe_metrics is not None:
            rows_in = int(probe_metrics["rows_in"])
            touched_buckets = [int(b) for b in probe_metrics["buckets"]]
        else:
            probe = batch.agg(
                F.count(F.lit(1)).alias("rows_in"),
                F.collect_set(bexpr).alias("buckets"),
            ).first()
            rows_in = probe["rows_in"]
            touched_buckets = [int(b) for b in probe["buckets"]]

        if (update_mode or self.update_mode) == "partial":
            # column-level CDC: per-COLUMN LWW fold (sparse after-images);
            # emits the _colv version vector + _dlsn barrier the merge needs.
            # Same shape as lww_latest's agg path: one hash aggregation with
            # map-side partial combine, no window. val_cols come from the
            # BATCH (not the construction-time schema): a batch carrying a
            # new payload column folds it like any other register and the
            # merge's schema evolution adds it to the table.
            non_payload = set(self.key_cols) | {
                self.lsn_col, self.op_col, "event_ts",
            }
            deduped = lww_fold_partial(
                valid.drop("event_ts") if "event_ts" in valid.columns else valid,
                self.key_cols,
                val_cols=[c for c in valid.columns if c not in non_payload],
                lsn_col=self.lsn_col,
                op_col=self.op_col,
            )
            source = deduped
        else:
            deduped = lww_latest(
                valid,
                self.key_cols,
                lsn_col=self.lsn_col,
                op_col=self.op_col,
            )
            source = deduped.drop("event_ts")
        stats = merge_into(
            self.spark,
            self.target,
            source,
            op_col=self.op_col,
            update_mode=update_mode or self.update_mode,
            array_union_cols=self.array_union_cols,
            fence_token=fence_token,
            lsn_col=self.lsn_col,
            touched_buckets=touched_buckets,
            touched_num_buckets=num_buckets,
            # set only under CoW (the constructor refuses it for MoR)
            changes_table=self.changes,
            strategy=self.strategy,
        )
        if stats.skipped:
            # a racer applied this fence since the check above
            self._close_outbox_hole(fence_token)

        if self.lineage is not None and not stats.skipped:
            rows = [
                {
                    "fence_token": fence_token,
                    "commit_version": stats.version,
                    "bucket": pb["bucket"],
                    "inserted": pb["inserted"],
                    "updated": pb["updated"],
                    "deleted": pb["deleted"],
                    "noop": pb["noop"],
                    "stale": pb.get("stale", 0),
                    "carried": pb["carried"],
                    "delete_missing": pb["delete_missing"],
                    "rows_in": rows_in,
                    "quarantined": n_rejects,
                    "wall_ms": stats.wall_ms,
                }
                for pb in (stats.by_bucket or [{"bucket": -1, "inserted": 0,
                                                "updated": 0, "deleted": 0, "noop": 0,
                                                "stale": 0, "carried": 0,
                                                "delete_missing": 0}])
            ]
            # lineage rows are driver-side already — write them without a Spark job
            self.lineage.append_rows(rows, fence_token=f"{fence_token}:l")

        if self.auto_compact_max_deltas is not None and not stats.skipped:
            from ..lake.merge import compact_tiered

            # opportunistic maintenance: the batch's merge is already
            # committed, so a compaction that keeps losing its CAS to
            # concurrent writers (DML, view/index refresher) must NOT surface
            # as a failure of a successfully applied batch — nor reach this
            # statement's retry — the next batch retries compaction
            try:
                compact_tiered(
                    self.spark, self.target,
                    fanout=self.auto_compact_max_deltas,
                )
            except CommitConflict:
                pass
        return ApplyResult(stats=stats, rows_in=rows_in, quarantined=n_rejects)

    def apply_batch_wap(
        self,
        batch: DataFrame,
        fence_token: str,
        audit,
        on_reject: str = "quarantine",
    ) -> ApplyResult:
        """Write-audit-publish: stage the batch on a branch, audit the staged
        state, then fast-forward main — the Iceberg WAP pattern for CDC
        quality gates. ``audit(spark, branch_table, result) -> bool`` sees the
        FULLY merged candidate state (not just the batch), so invariants like
        "no NULL token arrays survive" or "live count within tolerance" are
        checked against exactly what publish would expose. A False return
        drops the branch and raises :class:`BatchAuditError`; main never
        observes the batch, and its fence remains unclaimed for a corrected
        resubmit. Exactly-once is unchanged: the branch forks with main's
        fence set (an already-applied batch short-circuits before forking),
        and publish carries the branch's fences back to main atomically with
        the data.

        Concurrency: a main commit landing between fork and publish makes the
        publish non-fast-forward (CommitConflict) — the whole statement
        re-forks from the new head and re-applies (``retry_on_conflict``).

        Quarantine/lineage rows written while staging persist even when the
        audit rejects: they are the audit trail of the ATTEMPT, not published
        state (mirroring Iceberg WAP, which does not roll back external logs).

        No reference analogue (the reference's ES sink exposes every bulk
        write immediately); the audit hook is the engine-side home for the
        reference's index-level validation jobs."""
        return retry_on_conflict(
            lambda: self._apply_batch_wap_once(
                batch, fence_token, audit, on_reject
            )
        )

    def _apply_batch_wap_once(
        self,
        batch: DataFrame,
        fence_token: str,
        audit,
        on_reject: str,
        update_mode: str | None = None,
    ) -> ApplyResult:
        """One attempt of :meth:`apply_batch_wap` (``update_mode``: see
        :meth:`_apply_batch_once`)."""
        if self.changes is not None:
            # the outbox announces per-key actions to downstream consumers as
            # part of the merge itself — under WAP that would publish actions
            # for a batch the audit may still reject. Outbox pipes must apply
            # directly (or derive the outbox from snapshot_diff post-publish).
            raise ValueError("apply_batch_wap is incompatible with changes_path")
        name = f"wap-{fence_token}"
        main = self.target
        if main.has_fence_token(fence_token):
            # crash between publish_branch and drop_branch leaves the staging
            # branch orphaned — it would pin every data file and manifest
            # shard it references against expire_snapshots forever. The fence
            # proves the publish landed, so the branch is garbage: drop it
            # best-effort before the no-op replay.
            try:
                main.drop_branch(name)
            except FileNotFoundError:
                pass
            return self._apply_batch_once(
                batch, fence_token, on_reject, update_mode
            )
        if main.branch_name is not None:
            raise ValueError("apply_batch_wap targets the main table view")
        try:
            # a crashed/stale attempt's branch forked from an older head —
            # branch work is redoable (main's fence decides exactly-once),
            # so always re-fork fresh
            main.drop_branch(name)
        except FileNotFoundError:
            pass
        branch = main.create_branch(name)
        self.target = branch
        try:
            result = self._apply_batch_once(
                batch, fence_token, on_reject, update_mode
            )
        finally:
            self.target = main
        if not audit(self.spark, branch, result):
            main.drop_branch(name)
            raise BatchAuditError(fence_token)
        try:
            main.publish_branch(name)
        finally:
            # published, or lost the fast-forward race (the retry re-forks)
            main.drop_branch(name)
        return result

    def sync_snapshot(
        self,
        snapshot: DataFrame,
        fence_token: str,
        lsn: int | None = None,
        on_reject: str = "quarantine",
        null_means: str = "clear",
        audit=None,
    ) -> ApplyResult:
        """Full-snapshot synchronization: make the table equal a complete
        source dump, as ONE fenced change batch on the normal apply path.

        The reference periodically re-ingests the full works snapshot
        (ref: aggregator/.../WorksSnapshotSource.scala bulk replay) but a
        document REMOVED at the source can never disappear — upserts alone
        cannot express deletion. Here the snapshot becomes upserts for every
        dump row plus synthesized deletes for every currently-live key ABSENT
        from the dump, all stamped with one LSN (``max(_lsn)+1`` by default —
        the same "one point on the total order" discipline as predicate DML,
        lake/mutate.py): CDC events that raced ahead of the dump (higher LSN)
        still win, stale redeliveries behind it still lose, and a crashed
        sync replays idempotently (the fence short-circuits; the derived
        batch is recomputed from the same table state otherwise).

        ``snapshot`` carries the payload columns (no op/lsn). Keys absent
        from BOTH the dump and the live table are untouched — including
        tombstones, whose LSN memory must keep suppressing their own stale
        redeliveries. Works under every table mode (replace / partial ×
        cow / mor): the synthesized batch is ordinary events.

        ``audit`` gates the reconciliation through write-audit-publish
        (:meth:`apply_batch_wap`): the dump's full effect — including the
        synthesized deletes — is staged on a branch and audited BEFORE main
        moves. This is the guard for the classic catastrophe (an empty or
        truncated dump would tombstone the whole table): e.g.
        ``audit=lambda s, br, r: branch_live_count_within_tolerance``.

        ``null_means`` matters only on PARTIAL-mode tables, where the apply
        path normally reads NULL as "no statement": a COMPLETE dump's NULL
        means the column IS null, so the default ``'clear'`` routes the sync
        through the whole-row merge (which states every column at the sync
        LSN — registers stay coherent, exactly the DML discipline).
        ``'keep'`` opts into sparse-dump semantics: NULL columns preserve the
        table's current values (per-column registers decide).

        Scale: the dump scan is the unavoidable cost; the live-key side is a
        key-and-LSN-only column-pruned read, and the delete synthesis is one
        hash LEFT ANTI join on the key — no window, no Python. A sync
        inherently touches every live bucket (it makes a statement about the
        whole key space).
        """
        if null_means not in ("clear", "keep"):
            raise ValueError("null_means must be 'clear' or 'keep'")
        key_cols = self.key_cols
        forced = (
            "replace"
            if (null_means == "clear" and self.update_mode == "partial")
            else None
        )
        snap_cols = set(snapshot.columns)
        missing_keys = [k for k in key_cols if k not in snap_cols]
        if missing_keys:
            raise ValueError(f"snapshot is missing key column(s) {missing_keys}")

        # The batch is DERIVED from a snapshot of the table (live keys, max
        # LSN) — a retry that reused it after a concurrent commit would carry
        # a duplicate LSN and a stale delete set (keys made live by the
        # winner would silently survive a dump they are absent from). So the
        # WHOLE statement (LSN stamp, delete synthesis, apply) is the
        # attempt retry_on_conflict re-runs, as in lake/mutate._apply_dml.
        def once() -> ApplyResult:
            m = self.target.manifest()
            if lsn is not None:
                L = lsn
            elif fence_token in m.fence_tokens:
                L = 0  # replayed sync: apply_batch short-circuits unread
            else:
                from ..lake.mutate import _next_lsn

                L = _next_lsn(self.spark, self.target, m)
            # payload = the CURRENT visible schema ∪ dump-only columns (the
            # dump speaks the live schema: construction-time user_schema
            # would silently drop evolved columns and, under 'clear', null
            # them on every synced key); dump-only columns evolve the table
            # through the merge like any batch's would
            visible = [
                f.name for f in visible_fields(m.schema)
                if f.name not in key_cols
            ]
            payload_cols = visible + [
                c for c in snapshot.columns
                if c not in visible and c not in key_cols
            ]
            field_type = {f.name: f.dataType for f in m.schema.fields}

            def val(c):
                if c in snap_cols:
                    return F.col(c)
                # visible column absent from a COMPLETE dump = NULL
                return F.lit(None).cast(field_type[c]).alias(c)

            ups = snapshot.select(
                *key_cols, *[val(c).alias(c) for c in payload_cols]
            ).withColumn(self.op_col, F.lit("U")).withColumn(
                self.lsn_col, F.lit(L).cast("long")
            )
            live_keys = self.final_state().select(*key_cols)
            dels = (
                live_keys.join(
                    snapshot.select(*key_cols).distinct(),
                    on=key_cols, how="left_anti",
                )
                .select(
                    *key_cols,
                    *[
                        F.lit(None).cast(
                            field_type.get(c, snapshot.schema[c].dataType
                                           if c in snap_cols else None)
                        ).alias(c)
                        for c in payload_cols
                    ],
                )
                .withColumn(self.op_col, F.lit("D"))
                .withColumn(self.lsn_col, F.lit(L).cast("long"))
            )
            batch = ups.unionByName(dels)
            if audit is not None:
                return self._apply_batch_wap_once(
                    batch, fence_token, audit, on_reject, forced
                )
            return self._apply_batch_once(batch, fence_token, on_reject, forced)

        return retry_on_conflict(once)

    def redrive_quarantine(
        self,
        fence_token: str,
        reasons: list[str] | None = None,
        vocab_size: int | None = None,
        on_reject: str = "quarantine",
    ) -> ApplyResult:
        """Dead-letter redrive: re-submit quarantined events through the
        normal apply after an upstream fix (the typical one: the tokenizer
        grew, so ``vocab_size`` overrides the validator for this batch).

        Correctness comes from the engine's own LWW discipline rather than
        new machinery: a redriven event whose key was overwritten since
        quarantine (a higher LSN applied meanwhile) lands ``stale`` — no
        zombie resurrection — and the whole redrive is one fenced batch
        (crash-safe, replay-skipping). ``reasons`` selects which reject
        classes to redrive (default: all); rows that STILL fail validation
        re-append to the quarantine under the new fence (the quarantine is a
        log of attempts, not a keyed set — redrive the fixed class only)."""
        if self.quarantine is None:
            raise ValueError("redrive requires a quarantine table")
        q = self.quarantine.read(self.spark)
        if reasons:
            q = q.filter(F.col("reject_reason").isin(list(reasons)))
        batch = q.drop("reject_reason")
        old_vocab = self.vocab_size
        if vocab_size is not None:
            self.vocab_size = vocab_size
        try:
            return self.apply_batch(batch, fence_token, on_reject=on_reject)
        finally:
            self.vocab_size = old_vocab

    def final_state(self, include_hidden: bool = False) -> DataFrame:
        """The user-visible table: tombstones filtered, hidden columns dropped.
        Merge-on-read deltas are LWW-resolved here (lake.merge.read_merged;
        on a table without deltas it is the plain read)."""
        from ..lake.merge import read_merged

        df = read_merged(self.spark, self.target)
        live = df.filter(~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)))
        if include_hidden:
            return live
        return live.select(*[f.name for f in visible_fields(live.schema)])


def CHANGE_BATCH_FIELDS_HINT(
    target_schema: StructType, lsn_col: str, op_col: str
) -> list[StructField]:
    """Quarantine schema: lsn + op + the target payload columns + event_ts."""
    from pyspark.sql.types import TimestampType

    return (
        [StructField(lsn_col, LongType(), False), StructField(op_col, StringType(), True)]
        + list(target_schema.fields)
        + [StructField("event_ts", TimestampType(), True)]
    )
