"""LakeTable format: DDL, snapshots, atomic commits, bucketed writes, schema reads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from concepts_pipeline_spark.lake import LakeTable, CommitConflict

TOKENS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)


def make_rows(spark, n=100, tag=0):
    return spark.range(n).select(
        F.format_string("doc%05d", F.col("id")).alias("doc_id"),
        F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: (i + tag).cast("int")).alias("tokens"),
        F.lit(3).cast("int").alias("n_tok"),
        F.lit(f"src{tag}").alias("source"),
    )


def test_create_read_empty(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"], num_buckets=4)
    assert t.exists()
    df = t.read(spark)
    assert df.count() == 0
    assert df.schema == TOKENS_SCHEMA
    # idempotent DDL (ref: Indices.create ignores already-exists)
    t2 = LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"], if_not_exists=True)
    assert t2.current_version() == 0
    with pytest.raises(FileExistsError):
        LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"])


def test_overwrite_and_read_back(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"], num_buckets=4)
    t.overwrite(make_rows(spark, 100))
    got = t.read(spark)
    assert got.count() == 100
    assert got.filter(F.col("doc_id") == "doc00042").select("tokens").first()[0] == [1, 2, 3]
    m = t.manifest()
    assert sum(f.rows for f in m.files) == 100
    assert {f.bucket for f in m.files} <= set(range(4))
    # key stats recorded from parquet footers
    assert all(f.min_key is not None and f.min_key <= f.max_key for f in m.files)


def test_snapshot_isolation(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"], num_buckets=4)
    t.overwrite(make_rows(spark, 50, tag=0))
    v1 = t.current_version()
    t.overwrite(make_rows(spark, 80, tag=1))
    assert t.read(spark).count() == 80
    # old snapshot still readable (PIT analogue, ref: IndexSource.scala:41-56)
    assert t.read(spark, version=v1).count() == 50


def test_append_and_fencing(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"], num_buckets=2)
    t.append(make_rows(spark, 10), fence_token="b1")
    t.append(make_rows(spark, 10), fence_token="b1")  # replay → no-op
    t.append(make_rows(spark, 10), fence_token="b2")
    assert t.read(spark).count() == 20
    assert t.has_fence_token("b1") and t.has_fence_token("b2")


def test_commit_conflict(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"], num_buckets=2)
    m = t.manifest()
    t.commit(m, [], summary={"operation": "a"})
    with pytest.raises(CommitConflict):
        t.commit(m, [], summary={"operation": "b"})  # same base version


def test_bucket_pruning_layout(spark, tmp_path):
    """Every file holds rows of exactly its named bucket."""
    from concepts_pipeline_spark.lake.table import bucket_expr

    t = LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"], num_buckets=8)
    t.overwrite(make_rows(spark, 200))
    m = t.manifest()
    for f in m.files:
        df = spark.read.parquet(f"{t.path}/{f.path}")
        buckets = df.select(bucket_expr(["doc_id"], 8).alias("b")).distinct().collect()
        assert [r.b for r in buckets] == [f.bucket]


def test_bucket_of_matches_bucket_expr(spark):
    """The driver-side twin routes every key type it covers to the same bucket
    as ``bucket_expr``: strings around XXH64's 32-byte stripe and its 8/4/1-byte
    tails, integer extremes, booleans, dates, the composite keys the token
    index and a (string, long) table use, and NULL components (which leave the
    hash seed unchanged). The 2^31-1 modulus compares nearly the whole hash."""
    import datetime

    from concepts_pipeline_spark.lake.table import bucket_expr, bucket_of

    values = {
        "s": ["", "a", "héllo, 漢字 😀", "x" * 31, "y" * 32, "z" * 33, "w" * 45,
              "é" * 35, None],
        "i": [0, 1, -1, 2**31 - 1, -(2**31), 123456, None],
        "l": [0, -1, 2**63 - 1, -(2**63), 2**40 + 3, None],
        "b": [True, False, None],
        "d": [datetime.date(1970, 1, 1), datetime.date(1969, 12, 31),
              datetime.date(2024, 2, 29), datetime.date(1, 1, 1), None],
        "j": [None, 0, 5, 63],
    }
    n = max(len(v) for v in values.values())
    df = spark.createDataFrame(
        [tuple(v[r % len(v)] for v in values.values()) for r in range(n)],
        "s string, i int, l bigint, b boolean, d date, j int",
    )
    types = {f.name: f.dataType for f in df.schema.fields}
    key_sets = [["s"], ["i"], ["l"], ["b"], ["d"], ["i", "j"], ["s", "l"]]
    cases = [(ks, nb) for ks in key_sets for nb in (1, 7, 16, 2**31 - 1)]
    got = df.select(
        *df.columns,
        *[bucket_expr(ks, nb).alias(f"__b{i}") for i, (ks, nb) in enumerate(cases)],
    ).collect()
    for r in got:
        for i, (ks, nb) in enumerate(cases):
            twin = bucket_of(tuple(r[c] for c in ks), [types[c] for c in ks], nb)
            assert twin == r[f"__b{i}"], (ks, nb, r)


def test_rollback_rewinds_state_and_fences(spark, tmp_path):
    """Rollback commits a NEW manifest referencing the old snapshot's files and
    restores its fence set — batches applied after the target can be replayed."""
    import pytest

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from tests.test_cdc_apply import TARGET_SCHEMA, engine_state

    LOG = ("lsn long, op string, doc_id string, tokens array<int>, "
           "n_tok int, source string")
    pipe = CdcPipeline(spark, str(tmp_path / "rb"), TARGET_SCHEMA, ["doc_id"],
                       num_buckets=2)
    b1 = spark.createDataFrame([(1, "I", "a", [1], 1, "s")], LOG)
    b2 = spark.createDataFrame([(2, "U", "a", [9, 9], 2, "s"),
                                (3, "I", "b", [3], 1, "s")], LOG)
    pipe.apply_batch(b1, fence_token="rb:1")
    v_after_b1 = pipe.target.current_version()
    state_after_b1 = engine_state(pipe.final_state())
    pipe.apply_batch(b2, fence_token="rb:2")
    assert engine_state(pipe.final_state()) != state_after_b1

    m = pipe.target.rollback(v_after_b1)
    assert m.version > v_after_b1 + 1          # history moves forward
    assert engine_state(pipe.final_state()) == state_after_b1
    assert pipe.target.has_fence_token("rb:1")
    assert not pipe.target.has_fence_token("rb:2")  # cursor rewound

    # the rolled-back batch replays cleanly and restores the newer state
    r = pipe.apply_batch(b2, fence_token="rb:2")
    assert not r.stats.skipped
    got = engine_state(pipe.final_state())
    assert got["a"][0] == [9, 9] and "b" in got
    assert pipe.target.has_fence_token("rb:2")

    with pytest.raises(ValueError, match="not older"):
        pipe.target.rollback(pipe.target.current_version())

    s = pipe.target.table_stats()
    assert s["rows"] >= 2 and s["num_buckets"] == 2 and s["snapshots"] >= 4


def test_bloom_ndv_property_writes_parquet_blooms(spark, tmp_path):
    """bloom_ndv table property threads parquet bloom filters onto the key
    column of every staged file: same data, bloom files strictly larger
    (the serialized bitset), reads and point lookups identical."""
    import glob
    import os

    from concepts_pipeline_spark.lake.merge import merge_into, read_for_keys

    rows = make_rows(spark, n=2000).withColumn("op", F.lit("U"))
    sizes = {}
    tables = {}
    for name, props in (("plain", None), ("bloom", {"bloom_ndv": 4096})):
        t = LakeTable.create(
            str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
            num_buckets=4, properties=props,
        )
        merge_into(spark, t, rows, fence_token="b:0")
        sizes[name] = sum(
            os.path.getsize(p)
            for p in glob.glob(str(tmp_path / name / "data" / "*.parquet"))
        )
        tables[name] = t
    assert sizes["bloom"] > sizes["plain"]

    a = tables["plain"].read(spark).orderBy("doc_id").collect()
    b = tables["bloom"].read(spark).orderBy("doc_id").collect()
    assert a == b
    keys = ["doc00005", "doc01999", "nope"]
    got = {r["doc_id"] for r in read_for_keys(spark, tables["bloom"], keys).collect()}
    assert got == {"doc00005", "doc01999"}


def test_bloom_cols_property_writes_payload_blooms(spark, tmp_path):
    """bloom_cols ({col: ndv}) threads parquet blooms onto payload columns —
    equality probes on high-cardinality payload values get row-group skipping
    where min/max stats span everything. Same evidence as the key bloom:
    identical data, strictly larger files, identical read results."""
    import glob
    import os

    # high-cardinality payload values: a fully dictionary-encoded chunk gets
    # NO bloom (parquet drops it — the dictionary is already an exact filter),
    # so constant columns would make this test vacuous
    rows = spark.range(2000).select(
        F.format_string("doc%05d", F.col("id")).alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("tokens"),
        F.col("id").cast("int").alias("n_tok"),
        F.format_string("origin-%05d", F.col("id")).alias("source"),
    )
    sizes = {}
    tables = {}
    for name, props in (("plain", None),
                        ("bloom", {"bloom_cols": {"source": 4096,
                                                  "n_tok": 4096}})):
        t = LakeTable.create(
            str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
            num_buckets=4, properties=props,
        )
        t.append(rows)
        sizes[name] = sum(
            os.path.getsize(p)
            for p in glob.glob(str(tmp_path / name / "data" / "*.parquet"))
        )
        tables[name] = t
    assert sizes["bloom"] > sizes["plain"]
    a = tables["plain"].read(spark).orderBy("doc_id").collect()
    b = tables["bloom"].read(spark).orderBy("doc_id").collect()
    assert a == b
    assert tables["bloom"].read(spark).filter(
        F.col("source") == "origin-00042").count() == 1


def test_count_live_is_manifest_only_and_exact(spark, tmp_path):
    """Metadata-only COUNT(*): exact on CoW tables (tombstones netted out via
    per-file live_rows footer stats), None under MoR deltas (which shadow
    base rows), exact again after compaction folds them."""
    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.lake.merge import compact

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "doc_id string, lsn long, op string, tokens array<int>, "
            "n_tok int, source string",
        )

    pipe = CdcPipeline(
        spark, str(tmp_path / "cl"), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4,
    )
    pipe.apply_batch(
        batch([
            ("a", 1, "I", [1], 1, "s"),
            ("b", 2, "I", [2], 1, "s"),
            ("c", 3, "I", [3], 1, "s"),
        ]),
        fence_token="b0",
    )
    assert pipe.target.count_live() == 3
    pipe.apply_batch(
        batch([("b", 10, "D", None, None, None), ("d", 11, "I", [4], 1, "s")]),
        fence_token="b1",
    )
    # tombstone for b nets out; d arrives — all from manifest stats
    assert pipe.target.count_live() == 3 + 1 - 1
    assert pipe.target.count_live() == pipe.final_state().count()
    # time travel: the count is per-snapshot
    assert pipe.target.count_live(version=1) == 3

    mor = CdcPipeline(
        spark, str(tmp_path / "ml"), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4, strategy="mor",
    )
    mor.apply_batch(batch([("a", 1, "I", [1], 1, "s")]), fence_token="b0")
    mor.apply_batch(batch([("a", 2, "U", [2], 1, "s")]), fence_token="b1")
    assert mor.target.count_live() is None  # deltas shadow base rows
    compact(spark, mor.target, max_delta_files_per_bucket=0)
    assert mor.target.count_live() == 1


def test_timestamp_time_travel_and_history(spark, tmp_path):
    """version_as_of resolves the snapshot committed at-or-before a wall-clock
    instant; history() reads the whole log from manifest headers only."""
    import time as _time

    from concepts_pipeline_spark.lake.merge import merge_into, rescale_buckets
    from concepts_pipeline_spark.lake.table import LakeTable
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("_lsn", LongType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, ["doc_id"], 2)
    ddl = "doc_id string, tokens array<int>, op string, lsn long"
    merge_into(spark, t, spark.createDataFrame([("a", [1], "U", 1)], ddl),
               fence_token="c1", lsn_col="lsn")
    ts_between = int(_time.time() * 1000)
    _time.sleep(0.05)
    merge_into(spark, t, spark.createDataFrame([("b", [2], "U", 2)], ddl),
               fence_token="c2", lsn_col="lsn")
    # a rescale is a commit like any other: stamped, so it sorts after ts
    rescale_buckets(spark, t, 4)

    v = t.version_as_of(ts_between)
    assert v == 1
    assert {r["doc_id"] for r in t.read(spark, version=v).collect()} == {"a"}
    assert t.version_as_of(int(_time.time() * 1000)) == t.current_version()
    with pytest.raises(ValueError):
        t.version_as_of(-1)

    h = t.history()
    assert [x["version"] for x in h] == [0, 1, 2, 3]
    assert h[0]["operation"] == "create" and h[0]["rows"] == 0
    assert h[1]["rows_delta"] == 1 and h[2]["rows_delta"] == 1
    assert h[3]["operation"] == "rescale" and h[3]["rows_delta"] == 0
    assert h[2]["fence_tokens"] == 2


def test_column_stats_prune_files_on_read_where(spark, tmp_path):
    """Manifest column stats (table property stat_cols): predicate reads skip
    files whose stored [min,max] can't match — a metadata decision before any
    I/O — while files without stats are kept conservatively."""
    from concepts_pipeline_spark.lake.table import LakeTable
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("score", IntegerType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, ["doc_id"], 2,
                         properties={"stat_cols": ["source", "score"]})
    # two appends with disjoint source/score ranges → per-generation stats
    t.append(spark.createDataFrame(
        [(f"a{i}", "alpha", i) for i in range(20)], schema))
    t.append(spark.createDataFrame(
        [(f"b{i}", "beta", 100 + i) for i in range(20)], schema))
    m = t.manifest()
    assert all(f.col_stats and "source" in f.col_stats for f in m.files)

    # string-domain prune: only the beta generation's files survive
    beta_files = t.files_where(m, "source", "beta", "beta")
    assert 0 < len(beta_files) < len(m.files)
    got = {r["doc_id"] for r in t.read_where(spark, "source", "beta").collect()}
    assert got == {f"b{i}" for i in range(20)}

    # numeric-domain range prune
    lo_files = t.files_where(m, "score", 0, 50)
    assert 0 < len(lo_files) < len(m.files)
    assert t.read_where(spark, "score", 0, 50).count() == 20

    # conservative: un-statted column keeps everything; cross-domain probe too
    assert len(t.files_where(m, "doc_id", "x", "x")) == len(m.files)
    assert len(t.files_where(m, "source", 1, 2)) == len(m.files)

    # a rewrite (merge) keeps collecting stats through the CoW path
    from concepts_pipeline_spark.lake.merge import merge_into
    phys = StructType(list(schema.fields))
    ev = spark.createDataFrame(
        [("a0", "alpha", 7, "U", 1)],
        "doc_id string, source string, score int, op string, lsn long",
    )
    merge_into(spark, t, ev, fence_token="c1", lsn_col="lsn")
    m2 = t.manifest()
    rewritten = [f for f in m2.files if f.path not in {x.path for x in m.files}]
    assert rewritten and all(f.col_stats for f in rewritten)


def test_read_where_mor_deltas_never_value_pruned(spark, tmp_path):
    """Value predicates against a merge-on-read manifest: delta files shadow
    base rows by KEY, so value-pruning a delta (or filtering raw base∪delta
    rows) can resurrect a stale base version whose newer value left the
    probed range. read_where must LWW-resolve before filtering and never cut
    delta files on stats."""
    from concepts_pipeline_spark.lake.merge import HIDDEN_DELETED, merge_into

    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("n_tok", IntegerType()),
    ])
    t = LakeTable.create(str(tmp_path / "t"), schema, ["doc_id"], 2,
                         properties={"stat_cols": ["n_tok"]})
    base = spark.createDataFrame(
        [("a", 10, "I", 1), ("b", 999, "I", 1), ("c", 12, "I", 1)],
        "doc_id string, n_tok int, op string, lsn long",
    )
    merge_into(spark, t, base, fence_token="b0", lsn_col="lsn")
    # MoR batch: a leaves the probed range, b enters it, c is tombstoned
    delta = spark.createDataFrame(
        [("a", 999, "U", 2), ("b", 11, "U", 2), ("c", None, "D", 2)],
        "doc_id string, n_tok int, op string, lsn long",
    )
    merge_into(spark, t, delta, fence_token="b1", lsn_col="lsn",
               strategy="mor")
    m = t.manifest()
    assert any(f.kind == "delta" for f in m.files)

    # a stale event lands as a delta too (_mor_append defers freshness to
    # read-side LWW): d's live base value is 500 @ lsn 5, the lsn-2 replay
    # carries an in-range 15 — the pruned read must still answer 500-wins
    merge_into(spark, t,
               spark.createDataFrame([("d", 500, "I", 5)],
                                     "doc_id string, n_tok int, op string, lsn long"),
               fence_token="b2", lsn_col="lsn")
    merge_into(spark, t,
               spark.createDataFrame([("d", 15, "U", 2)],
                                     "doc_id string, n_tok int, op string, lsn long"),
               fence_token="b3", lsn_col="lsn", strategy="mor")
    m = t.manifest()

    kept = t.files_where(m, "n_tok", 5, 20)
    dirty = {f.bucket for f in m.files if f.kind == "delta"}
    # no file in a delta-bearing bucket may be value-pruned
    assert all(f in kept for f in m.files if f.bucket in dirty)

    got = {
        r["doc_id"]: r["n_tok"]
        for r in t.read_where(spark, "n_tok", 5, 20)
        .filter(~F.col(HIDDEN_DELETED))
        .collect()
    }
    # a must NOT reappear at its stale value; b's new value must be found
    # even though its base file's stats exclude the probe; c is dead; d's
    # stale in-range delta must NOT beat its fresher out-of-range base
    assert got == {"b": 11}

    conj = {
        r["doc_id"]
        for r in t.read_where_all(spark, [("n_tok", 5, 20)])
        .filter(~F.col(HIDDEN_DELETED))
        .collect()
    }
    assert conj == {"b"}


def test_metadata_dataframes(spark, tmp_path):
    """files_df / snapshots_df: the manifest as queryable DataFrames (the
    Iceberg metadata-table affordance) — counts agree with the manifest, no
    data I/O needed, usable with ordinary aggregations."""
    t = LakeTable.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["doc_id"],
                         num_buckets=4, properties={"stat_cols": ["source"]})
    t.append(make_rows(spark, n=100, tag=0))
    t.append(make_rows(spark, n=50, tag=1))
    m = t.manifest()

    fdf = t.files_df(spark)
    assert fdf.count() == len(m.files)
    per_kind = {r["kind"]: r["n"] for r in
                fdf.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert per_kind == {"base": len(m.files)}
    assert fdf.agg(F.sum("rows")).first()[0] == sum(f.rows for f in m.files)
    assert fdf.filter(F.col("col_stats").isNotNull()).count() == len(m.files)

    sdf = t.snapshots_df(spark)
    vers = [r["version"] for r in sdf.orderBy("version").collect()]
    assert vers == [h["version"] for h in t.history()]
    assert sdf.filter(F.col("operation") == "append").count() == 2

    # an older snapshot's inventory is still addressable
    assert t.files_df(spark, version=vers[-2]).count() < len(m.files)


def test_agg_bounds_metadata_min_max(spark, tmp_path):
    """agg_bounds: MIN/MAX from manifest column stats only (aggregate
    pushdown). Exact on CoW incl. after tombstoning deletes (NULL payloads
    never enter footer stats); None under MoR deltas, for un-statted or
    string columns, and across files missing stats."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from concepts_pipeline_spark.lake.merge import merge_into
    from concepts_pipeline_spark.lake.table import LakeTable

    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("score", IntegerType()),
    ])
    t = LakeTable.create(str(tmp_path / "ab"), schema, ["doc_id"], 2,
                         properties={"stat_cols": ["source", "score"]})
    t.append(spark.createDataFrame(
        [(f"a{i}", "alpha", 10 + i) for i in range(10)], schema))
    t.append(spark.createDataFrame(
        [(f"b{i}", "beta", 100 + i) for i in range(10)], schema))
    assert t.agg_bounds("score") == (10, 109)
    # string stats: footer min/max may truncate — refuse the exact answer
    assert t.agg_bounds("source") is None
    # un-statted column
    assert t.agg_bounds("doc_id") is None

    # CDC tombstone delete of the whole beta generation: bounds tighten
    # (tombstones carry NULL payloads, invisible to footer stats)
    src = spark.createDataFrame(
        [(f"b{i}", None, None, "D", 1000 + i) for i in range(10)],
        "doc_id string, source string, score int, op string, lsn long",
    )
    merge_into(spark, t, src, lsn_col="lsn")
    assert t.agg_bounds("score") == (10, 19)
    # time travel: bounds answered at any version
    assert t.agg_bounds("score", version=2) == (10, 109)

    # MoR delta shadows values key-by-key: not metadata-derivable
    src2 = spark.createDataFrame(
        [("a0", "alpha", 7, "U", 2000)],
        "doc_id string, source string, score int, op string, lsn long",
    )
    merge_into(spark, t, src2, lsn_col="lsn", strategy="mor")
    assert t.agg_bounds("score") is None
