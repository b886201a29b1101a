"""Transactional outbox derived FROM the committed log (CDF).

The classic outbox (lake/merge.py changes_table) is computed inside the merge
— per-key actions ride the same pass that writes the data, which is the
cheapest shape but means the actions are announced the moment the merge
commits. Under write-audit-publish that is exactly wrong: a staged batch may
still be rejected. This module is the WAP-compatible alternative the
apply_batch_wap guard points at: actions are derived AFTER the fact from the
snapshot diffs of the published main chain, so the outbox can never disagree
with the table — it is a pure function of committed state transitions.

Semantic difference from the merge-time outbox, by design: actions here are
LOGICAL STATE transitions (insert = key became live, update = live payload
changed, delete = key became dead). A reinsert after a tombstone is an
``insert`` here (the key was not live), while the merge-time classifier calls
it ``updated`` (the tombstone row was matched); no-op and stale events appear
in neither.

Scale shape: one snapshot diff per published version — O(changed buckets),
walked by the shared change-feed follower (lake/diff.follow) like every other
derived table; a consumer that fell N commits behind ships N diffs, each
exactly once (the cursor IS the outbox table's fence state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, LongType, StructField, StructType

from .diff import follow, snapshot_diff
from .table import LakeTable, fence_cursor, visible_fields

FENCE_PREFIX = "obx:"


class CdfOutbox:
    """Change publication derived from a primary table's committed versions."""

    def __init__(self, spark: SparkSession, primary: LakeTable,
                 outbox_path: str, include_payload: bool = False):
        """``include_payload=True`` makes this a FULL-ROW changelog: insert/
        update rows carry the post-image payload columns (NULL on deletes), so
        a consumer can reconstruct the primary's exact state by folding the
        outbox in version order — no read-back against the primary needed
        (the Kafka-compacted-topic shape; pytest pins the reconstruction)."""
        self.spark = spark
        self.primary = primary
        self.include_payload = include_payload
        m = primary.manifest()
        self.key_cols = list(m.key_cols)
        self.payload_cols = [
            f.name for f in visible_fields(m.schema)
            if f.name not in m.key_cols
        ] if include_payload else []
        schema = StructType(
            [StructField(k, m.schema[k].dataType, True) for k in self.key_cols]
            + [StructField(c, m.schema[c].dataType, True)
               for c in self.payload_cols]
            + [
                StructField("action", StringType(), False),
                StructField("version", LongType(), False),
            ]
        )
        self.table = LakeTable.create(
            outbox_path, schema, self.key_cols, num_buckets=4,
            if_not_exists=True,
        )

    def cursor(self) -> int:
        return fence_cursor(self.table.manifest(), FENCE_PREFIX)

    def refresh(self) -> int:
        """Publish actions for every primary version past the cursor, one
        fenced append per version (crash-resumable, replay-skipping; a lost
        commit race re-derives from the winner's cursor — lake/diff.follow).
        Returns the number of versions THIS call published."""
        return follow(self.primary, self.table, FENCE_PREFIX, self._step)

    def _step(self, cur: int, nxt: int, fence: str) -> bool:
        d = snapshot_diff(self.spark, self.primary, cur, nxt)
        rows = d.select(
            *self.key_cols,
            *[
                # post-image for insert/update; deletes carry NULLs (the
                # diff's from-side image is not part of the changelog)
                F.when(F.col("change_type") != "delete", F.col(c)).alias(c)
                for c in self.payload_cols
            ],
            F.col("change_type").alias("action"),
            F.lit(nxt).cast("long").alias("version"),
        )
        return self.table.append(rows, fence_token=fence) is not None

    def read(self) -> DataFrame:
        return self.table.read(self.spark).select(
            *self.key_cols, *self.payload_cols, "action", "version"
        )

    def read_since(self, version: int) -> DataFrame:
        """Incremental consumption: actions for versions strictly above the
        given watermark (pair with cursor() for at-least-once draining)."""
        return self.read().filter(F.col("version") > F.lit(version))
