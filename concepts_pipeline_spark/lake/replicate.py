"""Lake-to-lake replication: keep a replica table converged to a primary by
shipping per-commit CDF diffs — never a full copy after bootstrap.

The replica is an ordinary CDC lake table; each primary commit's classified
diff becomes a change batch (insert/update → op 'U' with the post-image,
delete → op 'D') stamped with the PRIMARY VERSION as its LSN, merged with the
usual fence (``repl:<v>``). Consequences, all inherited from the merge
discipline rather than re-implemented:

- exactly-once: a crashed replicator resumes from its fence cursor; replays
  short-circuit; duplicate application is impossible.
- ordering: version-as-LSN is monotone per key across commits, so a replica
  that applies versions in order can never regress a key (and a stale
  re-delivery of an old span loses LWW against the replica's own memory).
- cost: O(changed buckets of the span) per refresh — a replica that fell N
  commits behind ships N diffs (or ONE telescoped span diff with
  ``coalesce=True`` — deltas telescope, same argument as lake/view.py).
- maintenance commits (compaction, rescale) on the primary diff to empty —
  the replica doesn't mirror physical layout, only logical state, and may be
  bucketed/compacted entirely differently (e.g. a read-optimized replica of
  a write-optimized primary).

The reference has no replication story at all (one ES cluster, re-bulk-load
to rebuild); this is the lake-native answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .diff import snapshot_diff
from .merge import merge_into
from .table import HIDDEN_DELETED, HIDDEN_LSN, LakeTable, visible_fields

FENCE_PREFIX = "repl:"


class Replica:
    """A logical replica of a primary lake table, converged by CDF diffs."""

    def __init__(
        self,
        spark: SparkSession,
        primary: LakeTable,
        replica_path: str,
        num_buckets: int | None = None,
    ):
        self.spark = spark
        self.primary = primary
        m = primary.manifest()
        # logical schema only — the replica keeps its own hidden CDC columns
        visible = StructType(visible_fields(m.schema))
        from pyspark.sql.types import BooleanType, LongType, StructField

        physical = StructType(
            list(visible.fields)
            + [
                StructField(HIDDEN_LSN, LongType(), True),
                StructField(HIDDEN_DELETED, BooleanType(), True),
            ]
        )
        self.table = LakeTable.create(
            replica_path,
            physical,
            m.key_cols,
            num_buckets=num_buckets or m.num_buckets,
            if_not_exists=True,
        )

    def applied_version(self) -> int:
        from .table import fence_cursor

        return fence_cursor(self.table, FENCE_PREFIX)

    def refresh(
        self, up_to_version: int | None = None, coalesce: bool = False
    ) -> int:
        """Converge the replica to the primary (version-by-version, or one
        telescoped span diff with ``coalesce=True``). Returns versions
        actually applied by THIS refresher.

        Concurrency (same discipline as IncrementalAggView.refresh): every
        step recomputes its span from the current fence cursor and commits
        with max_retries=0; a losing racer's CAS conflict re-derives the
        remaining span. This is what prevents the coalesced-span hazard —
        a key inserted AND deleted inside a span is absent from that span's
        diff, so a stale overlapping span applied afterwards would resurrect
        it; cursor-guarded recompute makes stale spans no-ops instead."""
        from .table import CommitConflict

        target = (
            self.primary.current_version()
            if up_to_version is None
            else up_to_version
        )
        applied = 0
        while True:
            cur = self.applied_version()
            if cur >= target:
                return applied
            nxt = target if coalesce else cur + 1
            # the span's touched buckets are pure manifest arithmetic — when
            # the replica's bucket count is harmonic with the primary's, hand
            # them to the merge and skip its discovery pass (a persist +
            # distinct over the whole diff). Same hash family on same keys
            # (bucket_expr = pmod(xxhash64(keys), B)), so pnb % rnb == 0 maps
            # primary bucket b to replica bucket b % rnb exactly, and
            # rnb % pnb == 0 fans b out to {b + k*pnb}. Supersets are safe
            # (a pure-carry bucket rewrite). Derived ONCE per step (the
            # per-version walk is O(span) driver manifest reads — both paths
            # share it), and the ids only mean anything under the bucket
            # count they were mapped with: rnb_seen travels WITH them — the
            # mirror re-validates it against the exact manifest it CASes
            # against, and the merge's stale-numbering guard compares it
            # (not a fresh read that a concurrent rescale may already have
            # bumped) to the count it prunes under.
            rnb_seen = self.table.manifest().num_buckets
            tb = self._touched_replica_buckets(cur, nxt, rnb_seen)
            # fast path: bucket-mirror overwrite (zero joins — see
            # _try_mirror). Falls back to the diff+merge path on schema
            # drift, non-harmonic counts, or when the diff would read less.
            mirrored = self._try_mirror(cur, nxt, tb, rnb_seen)
            if mirrored is not None:
                if mirrored:
                    applied += nxt - cur
                continue
            d = snapshot_diff(self.spark, self.primary, cur, nxt)
            batch = (
                d.withColumn(
                    "op",
                    F.when(
                        F.col("change_type") == "delete", F.lit("D")
                    ).otherwise(F.lit("U")),
                )
                .withColumn("__repl_lsn", F.lit(nxt).cast("long"))
                .drop("change_type")
            )
            try:
                stats = merge_into(
                    self.spark,
                    self.table,
                    batch,
                    lsn_col="__repl_lsn",
                    fence_token=f"{FENCE_PREFIX}{nxt}",
                    max_retries=0,
                    touched_buckets=tb,
                    touched_num_buckets=rnb_seen if tb is not None else None,
                )
            except CommitConflict:
                continue
            if not stats.skipped:
                applied += nxt - cur

    # maintenance operations are logical no-ops by construction: their file
    # churn flags buckets in _changed_buckets, but the diff there is empty —
    # counting them would turn every primary compaction into a pure-carry
    # rewrite of the corresponding replica buckets. ONE definition for the
    # whole engine (diff.span_data_buckets uses the same set): a new
    # maintenance op added in one place is maintenance everywhere.
    from .diff import MAINTENANCE_OPS as _MAINTENANCE_OPS

    def _touched_replica_buckets(
        self, from_version: int, to_version: int, rnb: int
    ) -> list[int] | None:
        """Replica buckets the span's diff rows can land in, from manifests
        alone (no Spark job) — or None when the merge must discover them
        from the data (non-harmonic bucket counts, a span too long to walk,
        or expired interior manifests).

        Decomposed per version rather than endpoint-to-endpoint for two
        reasons: maintenance commits are excluded outright (see
        _MAINTENANCE_OPS), and a rescale inside the span changes the bucket
        NUMBERING — ids from versions before it must be mapped under their
        own num_buckets, which per-version walking gives for free (a data or
        compaction commit never changes num_buckets, so within one step the
        from/to numbering agrees; the only version where it differs is the
        rescale itself, which is excluded). ``rnb`` is the replica bucket
        count the caller observed — the returned ids are only meaningful
        under it, so the caller must validate THAT count (not a fresh read)
        wherever the ids are applied."""
        from .diff import _changed_buckets

        if to_version - from_version > 64:
            # one discovery job over the big span diff beats O(span) driver
            # manifest reads
            return None
        out: set[int] = set()
        try:
            prev = self.primary.manifest(from_version)
            for v in range(from_version + 1, to_version + 1):
                cur = self.primary.manifest(v)
                op = (cur.summary or {}).get("operation")
                if op not in self._MAINTENANCE_OPS:
                    pb = _changed_buckets(prev, cur)
                    pnb = cur.num_buckets
                    # unbucketed legacy files carry bucket -1: their keys can
                    # hash anywhere — only the full set is a sound superset
                    if any(b < 0 for b in pb):
                        return sorted(range(rnb))
                    if pnb % rnb == 0:
                        out.update(b % rnb for b in pb)
                    elif rnb % pnb == 0:
                        out.update(
                            b + k * pnb
                            for b in pb
                            for k in range(rnb // pnb)
                        )
                    else:
                        return None
                prev = cur
        except OSError:
            # an interior manifest was expired — the endpoint diff is still
            # computable, so let the merge discover buckets from the data
            return None
        return sorted(out)

    def _try_mirror(
        self, cur: int, nxt: int, tb: list[int] | None, rnb_seen: int
    ) -> bool | None:
        """Attempt the span as a bucket-mirror overwrite; None = ineligible
        (caller falls back to diff+merge), True = committed, False = lost the
        commit race (caller re-derives the span from the new cursor).
        ``tb``/``rnb_seen`` are the caller's span bucket ids and the bucket
        count they were mapped under (shared with the diff path — the
        per-version walk runs once per step).

        The mirror observation: a CoW merge rewrites every touched replica
        bucket IN FULL anyway, so instead of computing per-key changes (the
        snapshot_diff full-outer join) and merging them (a second join against
        the replica), read the primary's live rows at ``nxt`` for exactly the
        affected buckets and physically REPLACE those replica buckets. Zero
        joins: the refresh plan collapses to scan → bucket shuffle → write,
        reading the span's state once instead of three times (old side, new
        side, replica side). Deletes need no tombstones — a deleted key is
        simply absent from the rewritten bucket — and stale-span resurrection
        is impossible because the mirror copies an immutable snapshot, not a
        delta (the fence-cursor CAS loop already serializes refreshers).

        Rewritten rows carry ``_lsn = nxt``: a later diff+merge span (version
        > nxt) still wins LWW, and a stale redelivery of an older span loses.

        Ineligible when: the span's replica buckets aren't derivable from
        manifests (non-harmonic counts, >64-version walk, expired interior
        manifests), the primary's visible schema at ``nxt`` differs from the
        replica's (the merge path evolves; the mirror must not guess), legacy
        unbucketed replica files exist, or the manifest row-count arithmetic
        says the diff path would read less (a coarse replica makes the mirror
        read sibling primary buckets the diff never touches)."""
        from .diff import read_live
        from .table import CommitConflict

        if tb is None:
            return None
        m_r = self.table.manifest()
        # bucket-numbering guard: tb's ids are valid only under rnb_seen.
        # The mirror REPLACES bucket contents keyed by id, so a rescale that
        # committed between the caller's derivation and this read would make
        # us rewrite the WRONG buckets — and the commit CAS (against m_r,
        # which is already post-rescale) would not catch it. Treat it as a
        # lost race: the loop re-derives the span under the new numbering.
        # A rescale landing AFTER this read fails the commit CAS instead.
        if m_r.num_buckets != rnb_seen:
            return False
        # stale-span guard: the diff+merge path survives a racing refresher
        # via LWW memory (an older span's rows lose against the winner's
        # higher _lsn), but the mirror REPLACES bucket contents and has no
        # such memory — so the span must be validated against the exact
        # manifest the commit will CAS against. If the cursor moved since the
        # caller derived the span, the span is stale: report a lost race and
        # let the loop re-derive. Any commit that lands between this read and
        # ours fails the CAS for the same reason.
        cursor_now = 0
        for tok in m_r.fence_tokens:
            if tok.startswith(FENCE_PREFIX):
                try:
                    cursor_now = max(cursor_now, int(tok[len(FENCE_PREFIX):]))
                except ValueError:
                    continue
        if cursor_now != cur:
            return False
        rnb = m_r.num_buckets
        if any(f.bucket < 0 for f in m_r.files):
            return None
        m_p = self.primary.manifest(nxt)
        pnb = m_p.num_buckets

        def visible(schema):
            return sorted(
                (f.name, f.dataType.simpleString())
                for f in visible_fields(schema)
            )

        if visible(m_p.schema) != visible(m_r.schema):
            return None

        tb_set = set(tb)
        if not tb_set:
            # maintenance-only span: advance the fence, carry every file
            try:
                self.table.commit(
                    m_r, list(m_r.files),
                    fence_token=f"{FENCE_PREFIX}{nxt}",
                    summary={"operation": "replicate_mirror", "empty_span": True},
                )
            except CommitConflict:
                return False
            return True

        # primary buckets whose rows can land in the affected replica buckets
        if pnb % rnb == 0:
            need_pb = {b for b in range(pnb) if b % rnb in tb_set}
        elif rnb % pnb == 0:
            need_pb = {rb % pnb for rb in tb_set}
        else:
            return None

        # cost gate, from manifest row counts alone: the diff path reads the
        # endpoint-changed primary buckets twice (old + new side) plus the
        # touched replica files; the mirror reads need_pb once. Prefer the
        # mirror on ties — it also skips two joins.
        from .diff import _changed_buckets

        try:
            m_from = self.primary.manifest(cur)
        except OSError:
            return None
        changed_pb = _changed_buckets(m_from, m_p)

        def rows_in(m, buckets):
            return sum(f.rows for f in m.files if f.bucket in buckets)

        mirror_read = rows_in(m_p, need_pb)
        diff_read = (
            rows_in(m_from, changed_pb)
            + rows_in(m_p, changed_pb)
            + rows_in(m_r, tb_set)
        )
        if mirror_read > diff_read:
            return None

        live = read_live(self.spark, self.primary, m_p, need_pb)
        from .table import bucket_expr

        if len(tb_set) < rnb:
            # a primary bucket can fan rows into replica buckets OUTSIDE the
            # span's touched set (rnb % pnb == 0 with a partial fan) — keep
            # the rewrite exactly to the touched buckets
            live = live.filter(
                bucket_expr(m_r.key_cols, rnb).isin(*[int(b) for b in tb_set])
            )
        rows = live.select(
            "*",
            F.lit(nxt).cast("long").alias(HIDDEN_LSN),
            F.lit(False).alias(HIDDEN_DELETED),
        )
        schema_id = next(
            int(sid) for sid, sj in m_r.schemas.items()
            if sj == m_r.schema_json
        )
        new_files = self.table.write_data_files(rows, m_r, schema_id)
        passthrough = [f for f in m_r.files if f.bucket not in tb_set]
        try:
            self.table.commit(
                m_r,
                passthrough + new_files,
                fence_token=f"{FENCE_PREFIX}{nxt}",
                summary={
                    "operation": "replicate_mirror",
                    "mirrored_buckets": len(tb_set),
                    "primary_buckets_read": len(need_pb),
                },
            )
        except CommitConflict:
            return False
        return True

    def read(self) -> DataFrame:
        """The replica's live logical rows (shared MoR-aware reader)."""
        from .diff import read_live

        m = self.table.manifest()
        return read_live(self.spark, self.table, m, {f.bucket for f in m.files})


def logical_digest(spark: SparkSession, table: LakeTable, version: int | None = None) -> dict:
    """Order-insensitive integrity digest of a table's LIVE logical rows:
    (row_count, XOR of xxhash64 over the canonical row JSON). Bucket layout,
    file generations, MoR deltas, and column order are all invisible — two
    tables agree iff their logical states agree (modulo a 2^-64 collision).
    One map + one aggregation over the table; the operational replication
    checksum (compare a replica to its primary without shipping either)."""
    from .diff import read_live

    m = table.manifest(version)
    live = read_live(spark, table, m, {f.bucket for f in m.files})
    payload = sorted(live.columns)  # read_live already dropped ALL_HIDDEN
    # bit_xor is a partial-aggregating O(1)-state fold — never materializes
    # the hash stream (a collect_list fold would hold O(rows) in one buffer)
    agg = live.agg(
        F.count(F.lit(1)).alias("rows"),
        F.expr(
            "coalesce(bit_xor(xxhash64(to_json(struct("
            + ", ".join(payload) + ")))), CAST(0 AS BIGINT))"
        ).alias("digest"),
    )
    r = agg.first()
    return {"rows": int(r["rows"]), "digest": int(r["digest"])}


def verify_replica(spark: SparkSession, primary: LakeTable, replica: "Replica") -> dict:
    """Compare the replica's logical state to the primary's AT THE VERSION the
    replica has applied (comparing to the live head would race ongoing
    writes). Returns both digests and ``match``."""
    v = replica.applied_version()
    p = logical_digest(spark, primary, version=v if v > 0 else None)
    r = logical_digest(spark, replica.table)
    return {"applied_version": v, "primary": p, "replica": r,
            "match": p == r}
