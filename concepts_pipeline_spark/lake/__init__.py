"""A minimal ACID snapshot table format on parquet ("the lake layer").

The reference pipeline's store is Elasticsearch: idempotent `_bulk` doc-upserts with a
server-side merge script and strict index mappings
(ref: common/src/main/scala/weco/concepts/common/elasticsearch/BulkUpdateFlow.scala:32-120,
aggregator/src/main/resources/append-fields.json). This package replaces that store with
an Iceberg-style table format built from scratch:

- snapshot manifests (JSON) listing immutable parquet data files, committed atomically
  (create-exclusive link) — snapshot isolation, the analogue of the reference's
  point-in-time (PIT) reads (ref: recorder/.../IndexSource.scala:41-56);
- hash-bucketed layout by key, so a MERGE touches only the buckets its source keys hash
  to (copy-on-write with file pruning);
- schema tracked per file with additive evolution (new columns, type widening) — the
  inverse of the reference's strict mappings (ref: */src/main/resources/index.json:3);
- fence tokens recorded in the committed manifest → exactly-once batch apply
  (the analogue of ES doc-version idempotence + the noop script).
"""

from .table import LakeTable, CommitConflict, retry_on_conflict
from .merge import merge_into, MergeStats
from .diff import snapshot_diff

__all__ = [
    "LakeTable", "CommitConflict", "retry_on_conflict", "merge_into",
    "MergeStats", "snapshot_diff",
]
