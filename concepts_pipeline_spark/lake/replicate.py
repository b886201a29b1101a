"""Lake-to-lake replication: keep a replica table converged to a primary by
shipping per-commit CDF diffs — never a full copy after bootstrap.

The replica is an ordinary CDC lake table; each primary commit's classified
diff becomes a change batch (insert/update → op 'U' with the post-image,
delete → op 'D') stamped with the PRIMARY VERSION as its LSN, merged with the
usual fence (``repl:<v>``). Consequences, all inherited from the merge
discipline rather than re-implemented:

- exactly-once: the refresh loop is the shared change-feed follower
  (``lake/diff.follow``) — a crashed replicator resumes from its fence
  cursor, replays short-circuit, a lost commit race re-derives the span.
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

# read_live is looked up on the module at call time (diff.read_live), so a
# reader interposed on lake.diff reaches the mirror too
from . import diff
from .diff import _changed_buckets, data_steps, follow, snapshot_diff
from .merge import merge_into
from .table import (
    HIDDEN_DELETED,
    HIDDEN_LSN,
    LakeTable,
    bucket_expr,
    fence_cursor,
    visible_fields,
)

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
        return fence_cursor(self.table.manifest(), FENCE_PREFIX)

    def refresh(
        self, up_to_version: int | None = None, coalesce: bool = False
    ) -> int:
        """Converge the replica to the primary (version-by-version, or one
        telescoped span diff with ``coalesce=True``). Returns versions
        actually applied by THIS refresher. Loop and concurrency discipline:
        ``lake/diff.follow`` — re-deriving a lost span is what keeps a stale
        coalesced span from resurrecting a key inserted AND deleted inside a
        wider span that already landed."""
        return follow(
            self.primary, self.table, FENCE_PREFIX, self._step,
            up_to_version, coalesce,
        )

    def _step(self, cur: int, nxt: int, fence: str) -> bool:
        # the span's touched buckets are pure manifest arithmetic — when
        # the replica's bucket count is harmonic with the primary's, hand
        # them to the merge and skip its discovery pass (a persist +
        # distinct over the whole diff). Same hash family on same keys
        # (bucket_expr = pmod(xxhash64(keys), B)), so pnb % rnb == 0 maps
        # primary bucket b to replica bucket b % rnb exactly, and
        # rnb % pnb == 0 fans b out to {b + k*pnb}. Supersets are safe
        # (a pure-carry bucket rewrite). Derived ONCE per step (both paths
        # share it), and the ids only mean anything under the bucket count
        # they were mapped with: rnb_seen travels WITH them — the mirror
        # re-validates it against the exact manifest it CASes against, and
        # the merge's stale-numbering guard compares it (not a fresh read
        # that a concurrent rescale may already have bumped) to the count
        # it prunes under.
        rnb_seen = self.table.manifest().num_buckets
        tb = self._touched_replica_buckets(cur, nxt, rnb_seen)
        # fast path: bucket-mirror overwrite (zero joins — see
        # _try_mirror). Falls back to the diff+merge path on schema
        # drift, non-harmonic counts, or when the diff would read less.
        mirrored = self._try_mirror(cur, nxt, tb, rnb_seen)
        if mirrored is not None:
            return mirrored
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
        stats = merge_into(
            self.spark,
            self.table,
            batch,
            lsn_col="__repl_lsn",
            fence_token=fence,
            max_retries=0,
            touched_buckets=tb,
            touched_num_buckets=rnb_seen if tb is not None else None,
        )
        return not stats.skipped

    def _touched_replica_buckets(
        self, from_version: int, to_version: int, rnb: int
    ) -> list[int] | None:
        """Replica buckets the span's diff rows can land in, from manifests
        alone (no Spark job) — or None when the merge must discover them
        from the data (non-harmonic bucket counts, or a span the manifest
        walk cannot answer: see ``diff.data_steps``). Each data step's ids
        are mapped under that step's own primary bucket count, so a rescale
        inside the span stays handled. ``rnb`` is the replica bucket count
        the caller observed — the returned ids are only meaningful under
        it, so the caller must validate THAT count (not a fresh read)
        wherever the ids are applied."""
        steps = data_steps(self.primary, from_version, to_version)
        if steps is None:
            return None
        out: set[int] = set()
        for pb, pnb in steps:
            # unbucketed legacy files carry bucket -1: their keys can hash
            # anywhere — only the full set is a sound superset
            if any(b < 0 for b in pb):
                return sorted(range(rnb))
            if pnb % rnb == 0:
                out.update(b % rnb for b in pb)
            elif rnb % pnb == 0:
                out.update(b + k * pnb for b in pb for k in range(rnb // pnb))
            else:
                return None
        return sorted(out)

    def _try_mirror(
        self, cur: int, nxt: int, tb: list[int] | None, rnb_seen: int
    ) -> bool | None:
        """Attempt the span as a bucket-mirror overwrite; None = ineligible
        (caller falls back to diff+merge), True = committed, False = the span
        is stale against the replica manifest (the follower loop re-derives
        it from the new cursor, as it does on the commit's CommitConflict).
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
        delta (the follower's re-derive-on-conflict loop serializes
        refreshers).

        Rewritten rows carry ``_lsn = nxt``: a later diff+merge span (version
        > nxt) still wins LWW, and a stale redelivery of an older span loses.

        Ineligible when: the span's replica buckets aren't derivable from
        manifests (non-harmonic counts, >64-version walk, expired interior
        manifests), the primary's visible schema at ``nxt`` differs from the
        replica's (the merge path evolves; the mirror must not guess), legacy
        unbucketed replica files exist, or the manifest row-count arithmetic
        says the diff path would read less (a coarse replica makes the mirror
        read sibling primary buckets the diff never touches)."""
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
        if fence_cursor(m_r, FENCE_PREFIX) != cur:
            return False
        rnb = m_r.num_buckets
        fence = f"{FENCE_PREFIX}{nxt}"  # follow's token for this span
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
            self.table.commit(
                m_r, list(m_r.files),
                fence_token=fence,
                summary={"operation": "replicate_mirror", "empty_span": True},
            )
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

        live = diff.read_live(self.spark, self.primary, m_p, need_pb)
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
        new_files = self.table.write_data_files(
            rows, m_r, self.table._current_schema_id(m_r)
        )
        passthrough = [f for f in m_r.files if f.bucket not in tb_set]
        self.table.commit(
            m_r,
            passthrough + new_files,
            fence_token=fence,
            summary={
                "operation": "replicate_mirror",
                "mirrored_buckets": len(tb_set),
                "primary_buckets_read": len(need_pb),
            },
        )
        return True

    def read(self) -> DataFrame:
        """The replica's live logical rows (shared MoR-aware reader)."""
        return diff.read_live(self.spark, self.table, self.table.manifest())


def logical_digest(spark: SparkSession, table: LakeTable, version: int | None = None) -> dict:
    """Order-insensitive integrity digest of a table's LIVE logical rows:
    (row_count, XOR of xxhash64 over the canonical row JSON). Bucket layout,
    file generations, MoR deltas, and column order are all invisible — two
    tables agree iff their logical states agree (modulo a 2^-64 collision).
    One map + one aggregation over the table; the operational replication
    checksum (compare a replica to its primary without shipping either)."""
    live = diff.read_live(spark, table, table.manifest(version))
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
