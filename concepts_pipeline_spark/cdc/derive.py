"""Derive a deterministic CDC change log from the driver's ``events`` table.

The driver's correctness gate compares each Spark query against ANSI SQL run by
DuckDB on the same parquet inputs. The synthetic generator (generator.py) uses
xxhash64 and therefore cannot be re-expressed in DuckDB; this module instead derives
a change feed from ``events.parquet`` with *pure arithmetic* — every expression here
has a byte-identical DuckDB equivalent (see ``LOG_CTE_SQL``), so the entire engine
(validation → quarantine → per-key max-LSN LWW → tombstone MERGE) can be verified
end-to-end against a declarative SQL oracle.

Mapping (the analogue of the reference's SQS change events,
ref: aggregator/src/main/scala/weco/concepts/aggregator/SQSMain.scala:47-57):

- ``doc_id``  = cast(user_id as string)  — the changed document key
- ``lsn``     = event_id                 — monotonic, globally unique
- ``op``      = error → D, signup → I, otherwise U
- ``tokens``  = [event_id % 50257, (event_id*7+13) % 50257 (+50257 if event_id%41=0)]
               (the +50257 injects a deterministic out-of-vocab token)
- ``tokens``  = NULL when event_id % 43 = 0 (deterministic null_tokens malformation)
- ``n_tok``   = 2, +1 when event_id % 37 = 0 (deterministic n_tok_mismatch)
- ``source``  = event_type

Malformations only corrupt upserts (deletes carry no payload), mirroring
generator.py and the reference's warn+drop validation
(ref: aggregator/.../ConceptExtractor.scala:81-118).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

VOCAB = 50257


def derived_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change log as a DataFrame: (doc_id, lsn, op, tokens, n_tok, source)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    op = (
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type") == "signup", F.lit("I"))
        .otherwise(F.lit("U"))
    )
    tok2 = (eid * 7 + 13) % VOCAB + F.when(eid % 41 == 0, F.lit(VOCAB)).otherwise(F.lit(0))
    tokens = F.when(op == "D", F.lit(None).cast(ArrayType(IntegerType()))).otherwise(
        F.when(eid % 43 == 0, F.lit(None).cast(ArrayType(IntegerType()))).otherwise(
            F.array((eid % VOCAB).cast("int"), tok2.cast("int"))
        )
    )
    n_tok = F.when(op == "D", F.lit(None).cast("int")).otherwise(
        (F.lit(2) + F.when(eid % 37 == 0, F.lit(1)).otherwise(F.lit(0))).cast("int")
    )
    return ev.select(
        F.col("user_id").cast("string").alias("doc_id"),
        eid.alias("lsn"),
        op.alias("op"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.col("event_type").alias("source"),
    )


# The byte-identical DuckDB derivation — prepend to any oracle over the change log.
# ``events`` is pre-registered as a view by the driver.
LOG_CTE_SQL = """
log AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         event_id AS lsn,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN event_type = 'signup' THEN 'I'
              ELSE 'U' END AS op,
         CASE WHEN event_type = 'error' THEN NULL
              WHEN event_id % 43 = 0 THEN NULL
              ELSE [CAST(event_id % 50257 AS INT),
                    CAST((event_id * 7 + 13) % 50257
                         + CASE WHEN event_id % 41 = 0 THEN 50257 ELSE 0 END AS INT)]
         END AS tokens,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE CAST(2 + CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END AS INT)
         END AS n_tok,
         event_type AS source
  FROM events
)
"""

# Validation verdict, mirroring cdc.apply.valid_event_expr's precedence exactly:
# unknown_op → (deletes valid) → null_tokens → empty_tokens → n_tok_mismatch →
# token_out_of_vocab → valid (NULL reason).
REASON_SQL = """
  CASE WHEN op NOT IN ('I', 'U', 'D') THEN 'unknown_op'
       WHEN op = 'D' THEN NULL
       WHEN tokens IS NULL THEN 'null_tokens'
       WHEN len(tokens) = 0 THEN 'empty_tokens'
       WHEN n_tok IS NULL OR n_tok <> len(tokens) THEN 'n_tok_mismatch'
       WHEN len(list_filter(tokens, t -> t IS NULL OR t < 0 OR t >= 50257)) > 0
            THEN 'token_out_of_vocab'
       ELSE NULL END
"""

# Final-state oracle over the derived log: quarantine-filter, LWW per key over LSN,
# drop deleted keys. This is the declarative spec the whole engine must equal.
FINAL_STATE_SQL = f"""
WITH {LOG_CTE_SQL},
tagged AS (SELECT *, {REASON_SQL} AS reject_reason FROM log),
valid AS (SELECT * FROM tagged WHERE reject_reason IS NULL),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
  FROM valid
)
SELECT doc_id, tokens, n_tok, source FROM latest WHERE rn = 1 AND op <> 'D'
"""


def derived_sparse_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-level change log (sparse after-images) for update_mode='partial'.

    Same (doc_id, lsn, op) skeleton as :func:`derived_change_log`; upserts carry
    only a deterministic SUBSET of the payload columns (``event_id % 3``):

    - ``m = 0`` → full row (tokens + n_tok + source)
    - ``m = 1`` → tokens + n_tok only (source NULL = "no statement")
    - ``m = 2`` → source only (tokens/n_tok NULL)

    Malformations (upserts only, deterministic):
    - out-of-vocab token injection when ``event_id % 41 = 0`` (tokens present)
    - n_tok off-by-one when ``event_id % 37 = 0`` (tokens present)
    - ORPHAN n_tok (count without its array — the partial-mode-specific
      malformation) when ``event_id % 29 = 0`` on an ``m = 2`` event

    Pure arithmetic — byte-identical DuckDB derivation in SPARSE_LOG_CTE_SQL.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    op = (
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type") == "signup", F.lit("I"))
        .otherwise(F.lit("U"))
    )
    m = eid % 3
    has_tokens = (op != "D") & m.isin(0, 1)
    has_source = (op != "D") & m.isin(0, 2)
    tok2 = (eid * 7 + 13) % VOCAB + F.when(eid % 41 == 0, F.lit(VOCAB)).otherwise(F.lit(0))
    tokens = F.when(
        has_tokens, F.array((eid % VOCAB).cast("int"), tok2.cast("int"))
    ).otherwise(F.lit(None).cast(ArrayType(IntegerType())))
    n_tok = (
        F.when(
            has_tokens,
            (F.lit(2) + F.when(eid % 37 == 0, F.lit(1)).otherwise(F.lit(0))).cast("int"),
        )
        .when((op != "D") & (m == 2) & (eid % 29 == 0), F.lit(2).cast("int"))
        .otherwise(F.lit(None).cast("int"))
    )
    source = F.when(has_source, F.col("event_type")).otherwise(
        F.lit(None).cast("string")
    )
    return ev.select(
        F.col("user_id").cast("string").alias("doc_id"),
        eid.alias("lsn"),
        op.alias("op"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
    )


# byte-identical DuckDB derivation of the sparse log
SPARSE_LOG_CTE_SQL = """
slog AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         event_id AS lsn,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN event_type = 'signup' THEN 'I'
              ELSE 'U' END AS op,
         CASE WHEN event_type <> 'error' AND event_id % 3 IN (0, 1)
              THEN [CAST(event_id % 50257 AS INT),
                    CAST((event_id * 7 + 13) % 50257
                         + CASE WHEN event_id % 41 = 0 THEN 50257 ELSE 0 END AS INT)]
              ELSE NULL END AS tokens,
         CASE WHEN event_type <> 'error' AND event_id % 3 IN (0, 1)
              THEN CAST(2 + CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END AS INT)
              WHEN event_type <> 'error' AND event_id % 3 = 2 AND event_id % 29 = 0
              THEN CAST(2 AS INT)
              ELSE NULL END AS n_tok,
         CASE WHEN event_type <> 'error' AND event_id % 3 IN (0, 2)
              THEN event_type ELSE NULL END AS source
  FROM events
)
"""

# validation verdict for sparse events — mirrors
# cdc.apply.valid_event_expr(partial=True) precedence exactly
SPARSE_REASON_SQL = """
  CASE WHEN op NOT IN ('I', 'U', 'D') THEN 'unknown_op'
       WHEN op = 'D' THEN NULL
       WHEN tokens IS NULL AND n_tok IS NOT NULL THEN 'n_tok_mismatch'
       WHEN tokens IS NULL THEN NULL
       WHEN len(tokens) = 0 THEN 'empty_tokens'
       WHEN n_tok IS NULL OR n_tok <> len(tokens) THEN 'n_tok_mismatch'
       WHEN len(list_filter(tokens, t -> t IS NULL OR t < 0 OR t >= 50257)) > 0
            THEN 'token_out_of_vocab'
       ELSE NULL END
"""

# Final state under COLUMN-level LWW: each payload column independently keeps
# the newest valid assignment that is newer than the key's LAST delete; a row
# is live iff its newest upsert outranks its newest delete. This is the
# declarative whole-log spec the partial-mode engine must equal after ANY
# batch split / arrival order (arg_max ignores NULL ordering keys in both
# engines, so "no statement" events never win a column).
SPARSE_FINAL_STATE_SQL = f"""
WITH {SPARSE_LOG_CTE_SQL},
tagged AS (SELECT *, {SPARSE_REASON_SQL} AS reject_reason FROM slog),
valid AS (SELECT * FROM tagged WHERE reject_reason IS NULL),
bounds AS (
  SELECT doc_id,
         max(CASE WHEN op = 'D' THEN lsn END) AS dlsn,
         max(CASE WHEN op <> 'D' THEN lsn END) AS ulsn
  FROM valid GROUP BY doc_id
),
folded AS (
  SELECT v.doc_id,
         arg_max(v.tokens, CASE WHEN v.op <> 'D' AND v.tokens IS NOT NULL
                                 AND v.lsn > coalesce(b.dlsn, -1)
                            THEN v.lsn END) AS tokens,
         arg_max(v.n_tok, CASE WHEN v.op <> 'D' AND v.n_tok IS NOT NULL
                                AND v.lsn > coalesce(b.dlsn, -1)
                           THEN v.lsn END) AS n_tok,
         arg_max(v.source, CASE WHEN v.op <> 'D' AND v.source IS NOT NULL
                                 AND v.lsn > coalesce(b.dlsn, -1)
                            THEN v.lsn END) AS source
  FROM valid v JOIN bounds b USING (doc_id)
  GROUP BY v.doc_id
)
SELECT f.doc_id, f.tokens, f.n_tok, f.source
FROM folded f JOIN bounds b USING (doc_id)
WHERE coalesce(b.ulsn, -1) > coalesce(b.dlsn, -1)
"""
