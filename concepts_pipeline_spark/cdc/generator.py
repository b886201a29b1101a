"""Deterministic, distributed synthetic CDC change-log generator.

Generates the WAL/binlog-style feed described in FIXTURES.md §1 — the analogue of the
reference's SQS change events + full-snapshot replay
(ref: aggregator/src/main/scala/weco/concepts/aggregator/SQSMain.scala:47-57,
sources/WorksSnapshotSource.scala:15-24). All pseudo-randomness is ``xxhash64(seed,
id, tag)`` over ``spark.range`` — fully deterministic, no driver-side data, and scales
out to 10^10 rows on a cluster exactly as written (generation is embarrassingly
parallel; no shuffle until the optional disorder sort).

Feed properties (each exercises an engine behavior):
- multiple events per key, out of LSN order within files  → per-key max-LSN LWW
- update chains ending in delete; delete-then-reinsert    → MERGE delete branch
- exact duplicate events redelivered in a *later* batch   → idempotent apply / fencing
- Zipf-ish skewed keys (hot doc_ids)                      → map-side partial LWW
- a malformed fraction (n_tok mismatch, null tokens on U,
  out-of-vocab token)                                     → quarantine
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

VOCAB_SIZE = 50257
SOURCES = ["loc", "mesh", "wikidata", "label-derived"]

CHANGE_LOG_SCHEMA = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("op", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), True), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
        StructField("event_ts", TimestampType(), True),
        StructField("batch_id", LongType(), False),
    ]
)


def _rnd(tag: str, seed: int, *cols) -> F.Column:
    """Deterministic non-negative pseudo-random long from (seed, tag, cols)."""
    return F.abs(F.xxhash64(F.lit(seed), F.lit(tag), *cols))


def generate_change_log(
    spark: SparkSession,
    num_events: int,
    num_keys: int,
    seed: int = 42,
    num_batches: int = 8,
    max_tokens: int = 64,
    skew: float = 2.0,
    dup_pct: int = 5,
    malformed_pct: int = 2,
    delete_pct: int = 10,
    parallelism: int | None = None,
) -> DataFrame:
    """Build the change log as a DataFrame (see module docstring for properties)."""
    base = spark.range(0, num_events, 1, parallelism or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    # modulus for uniform draws — must out-resolve the key space, or the
    # power-law rank pick quantizes to at most M distinct keys no matter how
    # large num_keys is (measured: num_keys=8.3M produced only ~0.9M distinct
    # live keys under the old fixed M=1,000,003). 8 draw cells per key keeps
    # the rank distribution smooth; small-key configs keep the historical
    # modulus, so existing test feeds are byte-identical.
    M = max(1_000_003, 8 * num_keys + 3)

    u = (_rnd("key", seed, i) % M) / F.lit(float(M))  # uniform [0,1)
    # power-law key pick: skew>1 concentrates mass on low ranks (hot keys)
    key_rank = F.floor(F.pow(u, F.lit(skew)) * num_keys).cast("long")
    doc_id = F.lpad(
        F.lower(F.conv((_rnd("docid", seed, key_rank) % F.lit(36**8)).cast("string"), 10, 36)),
        8,
        "0",
    )

    op_draw = _rnd("op", seed, i) % 100
    op = (
        F.when(op_draw < delete_pct, F.lit("D"))
        .when(op_draw < delete_pct + 20, F.lit("I"))
        .otherwise(F.lit("U"))
    )

    # monotonic, globally unique LSN with gaps (stride 3 > max jitter 1)
    lsn = (i * 3 + (_rnd("gap", seed, i) % 2)).cast("long")

    n_tok = (1 + (_rnd("len", seed, i) % max_tokens)).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda j: (_rnd("tok", seed, i, j) % VOCAB_SIZE).cast("int"),
    )

    source = F.element_at(
        F.array(*[F.lit(s) for s in SOURCES]),
        (_rnd("src", seed, key_rank) % len(SOURCES) + 1).cast("int"),
    )
    event_ts = F.timestamp_seconds(F.lit(1700000000) + lsn)
    batch_id = F.least(
        F.floor(i * num_batches / num_events), F.lit(num_batches - 1)
    ).cast("long")

    df = base.select(
        lsn.alias("lsn"),
        op.alias("op"),
        doc_id.alias("doc_id"),
        F.when(op == "D", F.lit(None).cast(ArrayType(IntegerType()))).otherwise(tokens).alias("tokens"),
        F.when(op == "D", F.lit(None).cast("int")).otherwise(n_tok).alias("n_tok"),
        source.alias("source"),
        event_ts.alias("event_ts"),
        batch_id.alias("batch_id"),
        i.alias("__id"),
    )

    # malformed fraction: 3 kinds, only on upserts (a 'D' carries no payload to corrupt)
    ii = F.col("__id")
    mal_draw = _rnd("mal", seed, ii) % 100
    kind = _rnd("malkind", seed, ii) % 3
    is_mal = (mal_draw < malformed_pct) & (F.col("op") != "D")
    df = df.withColumn(
        "tokens",
        F.when(is_mal & (kind == 1), F.lit(None).cast(ArrayType(IntegerType())))  # null tokens on U
        .when(is_mal & (kind == 2), F.concat(F.col("tokens"), F.array(F.lit(VOCAB_SIZE + 17))))  # out-of-vocab
        .otherwise(F.col("tokens")),
    ).withColumn(
        "n_tok",
        F.when(is_mal & (kind == 0), F.col("n_tok") + 1)  # n_tok != size(tokens)
        .otherwise(F.col("n_tok")),
    )

    # exact-duplicate redelivery into the *next* batch (at-least-once semantics)
    dups = (
        df.filter(_rnd("dup", seed, F.col("__id")) % 100 < dup_pct)
        .withColumn("batch_id", F.least(F.col("batch_id") + 1, F.lit(num_batches - 1)))
    )
    out = df.unionByName(dups).drop("__id")
    return out


def write_change_log(df: DataFrame, path: str, shuffle_within_files: bool = True) -> None:
    """Persist the feed partitioned by batch_id (one WAL segment per directory).

    Rows are written out of LSN order within files (sorted by a hash), per FIXTURES §1.
    """
    out = df
    if shuffle_within_files:
        out = df.sortWithinPartitions(F.xxhash64("lsn", "doc_id"))
    out.write.mode("overwrite").partitionBy("batch_id").parquet(f"file://{path}")


def read_batch(spark: SparkSession, path: str, batch_id: int) -> DataFrame:
    """Read one WAL segment of a written change log."""
    return (
        spark.read.schema(CHANGE_LOG_SCHEMA)
        .parquet(f"file://{path}")
        .filter(F.col("batch_id") == batch_id)
    )
