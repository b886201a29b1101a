"""MERGE INTO semantics: insert/update/delete/noop classification, array_union mode,
file-pruned copy-on-write, fencing, schema evolution.

Mirrors the reference's merge test matrix (recorder/.../MergeConceptsTest.scala,
common/.../BulkUpdateFlowTest.scala result classification golden tests).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from concepts_pipeline_spark.lake import LakeTable, merge_into

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)


def df_of(spark, rows, with_op=False, schema=None):
    base = schema or SCHEMA
    if with_op:
        base = StructType(list(base.fields) + [StructField("op", StringType(), False)])
    return spark.createDataFrame(rows, base)


def make_table(spark, tmp_path, rows, num_buckets=4):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["doc_id"], num_buckets=num_buckets)
    if rows:
        t.overwrite(df_of(spark, rows))
    return t


def snap(t, spark):
    return {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in t.read(spark).collect()
    }


def test_merge_insert_update_delete_noop(spark, tmp_path):
    t = make_table(
        spark,
        tmp_path,
        [("a", [1, 2], 2, "loc"), ("b", [3], 1, "loc"), ("c", [9], 1, "mesh")],
    )
    src = df_of(
        spark,
        [
            ("a", [1, 2, 3], 3, "loc", "U"),   # update
            ("b", [3], 1, "loc", "U"),          # noop (unchanged row)
            ("c", None, None, None, "D"),       # delete
            ("d", [7], 1, "wikidata", "I"),     # insert
            ("e", None, None, None, "D"),       # delete of missing key
        ],
        with_op=True,
    )
    stats = merge_into(spark, t, src, fence_token="batch-1")
    assert (stats.inserted, stats.updated, stats.deleted, stats.noop, stats.delete_missing) == (
        1, 1, 1, 1, 1,
    )
    got = snap(t, spark)
    assert got == {
        "a": ([1, 2, 3], 3, "loc"),
        "b": ([3], 1, "loc"),
        "d": ([7], 1, "wikidata"),
    }
    # per-bucket lineage rows cover all actions
    assert sum(pb["inserted"] for pb in stats.by_bucket) == 1


def test_merge_fencing_is_transactional(spark, tmp_path):
    t = make_table(spark, tmp_path, [("a", [1], 1, "loc")])
    src = df_of(spark, [("a", [2], 1, "loc", "U")], with_op=True)
    s1 = merge_into(spark, t, src, fence_token="tok")
    assert s1.updated == 1 and not s1.skipped
    v = t.current_version()
    s2 = merge_into(spark, t, src, fence_token="tok")  # replay
    assert s2.skipped and t.current_version() == v
    assert snap(t, spark)["a"] == ([2], 1, "loc")


def test_merge_idempotent_without_fence(spark, tmp_path):
    """Replaying the same LWW'd batch without a fence is still a no-op on state
    (the reference's noop-script idempotence, append-fields.json:5-13)."""
    t = make_table(spark, tmp_path, [])
    src = df_of(spark, [("a", [1], 1, "loc", "I"), ("b", None, None, None, "D")], with_op=True)
    merge_into(spark, t, src)
    before = snap(t, spark)
    s2 = merge_into(spark, t, src)
    assert snap(t, spark) == before
    assert s2.noop == 1 and s2.updated == 0 and s2.inserted == 0


def test_merge_prunes_untouched_buckets(spark, tmp_path):
    t = make_table(
        spark, tmp_path,
        [(f"doc{i:04d}", [i], 1, "loc") for i in range(200)],
        num_buckets=8,
    )
    files_before = {f.path: f for f in t.manifest().files}
    src = df_of(spark, [("doc0000", [999], 1, "loc", "U")], with_op=True)
    stats = merge_into(spark, t, src)
    assert stats.touched_buckets == 1
    m = t.manifest()
    untouched = [f for f in m.files if f.path in files_before]
    # all files from other buckets carried over byte-identical (same path)
    assert len(untouched) == len(files_before) - stats.touched_files
    assert t.read(spark).count() == 200


def test_merge_array_union_mode(spark, tmp_path):
    """Scripted set-union merge (ref: ScriptedBulkUpdateFlow + append-fields.json)."""
    t = make_table(spark, tmp_path, [("a", [1, 3], 2, "loc")])
    src = df_of(
        spark,
        [("a", [2, 3], 2, "loc", "U"), ("z", [5], 1, "mesh", "U")],
        with_op=True,
    )
    stats = merge_into(
        spark, t, src, update_mode="array_union", array_union_cols=["tokens"]
    )
    got = snap(t, spark)
    assert got["a"][0] == [1, 2, 3]  # set union, sorted
    assert got["z"][0] == [5]
    assert stats.updated == 1 and stats.inserted == 1
    # union with a subset → unchanged → noop
    src2 = df_of(spark, [("a", [1], 2, "loc", "U")], with_op=True)
    s2 = merge_into(spark, t, src2, update_mode="array_union", array_union_cols=["tokens"])
    assert s2.noop == 1 and s2.updated == 0


def test_merge_schema_evolution_add_and_widen(spark, tmp_path):
    """Added column + int→long widening mid-stream (north_rule M3)."""
    t = make_table(spark, tmp_path, [("a", [1], 1, "loc"), ("b", [2], 1, "loc")])
    evolved = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType()), True),
            StructField("n_tok", LongType(), True),  # widened int -> long
            StructField("source", StringType(), True),
            StructField("lang", StringType(), True),  # added column
        ]
    )
    src = df_of(
        spark,
        [("a", [1, 1], 2, "loc", "en", "U"), ("c", [3], 1, "mesh", "de", "I")],
        with_op=True,
        schema=evolved,
    )
    stats = merge_into(spark, t, src)
    # "b" is in an untouched bucket → carried by reference, not rewritten
    assert stats.updated == 1 and stats.inserted == 1
    got = t.read(spark)
    assert got.schema["n_tok"].dataType == LongType()
    assert "lang" in got.columns
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows["b"]["lang"] is None and rows["b"]["n_tok"] == 1  # old file, conformed
    assert rows["a"]["lang"] == "en" and rows["c"]["lang"] == "de"


def test_merge_precedence_violations_surfaced(spark):
    """The reference hard-errors on (authoritative-only, None) merges
    (MergeConcepts.scala:29-39); we keep the rows visible AND countable."""
    from concepts_pipeline_spark.operators.merge_ops import (
        merge_precedence_violations,
        merge_with_precedence,
    )

    primary = spark.createDataFrame(
        [("k1", "p-label"), ("k3", "orphan")], "key string, label string"
    )
    secondary = spark.createDataFrame(
        [("k1", 10), ("k2", 20)], "key string, n long"
    )
    out = merge_with_precedence(
        primary, secondary, ["key"], ["label"], ["n"], violation_col="violation"
    )
    rows = {r["key"]: r for r in out.collect()}
    assert set(rows) == {"k1", "k2", "k3"}
    assert rows["k3"]["violation"] is True      # primary-only: the error arm
    assert rows["k1"]["violation"] is False
    assert rows["k2"]["violation"] is False     # secondary-only passes through
    assert out.filter(F.col("violation")).count() == 1

    viol = merge_precedence_violations(primary, secondary, ["key"]).collect()
    assert [(r["key"], r["label"]) for r in viol] == [("k3", "orphan")]


def test_incompatible_schema_evolution_rejected(spark):
    """Narrowing and type-changing evolution must fail loudly, not corrupt
    (additive columns + safe widening only — the inverse of the reference's
    strict mappings, BulkUpdateFlowTest.scala:163-166)."""
    import pytest
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField as SF, StructType as ST,
    )

    from concepts_pipeline_spark.lake.schema import (
        SchemaEvolutionError,
        evolve_schema,
    )

    table = ST([SF("k", StringType(), False), SF("n", LongType(), True)])
    # a narrower source (int vs stored long) is NOT an error: the source
    # conforms up to the table's type — the table never narrows
    assert evolve_schema(table, ST([SF("n", IntegerType(), True)]))["n"].dataType == LongType()
    # incompatible type change string -> long fails loudly
    with pytest.raises(SchemaEvolutionError, match="cannot evolve"):
        evolve_schema(table, ST([SF("k", LongType(), False)]))
    # widening + additive still fine
    out = evolve_schema(
        ST([SF("k", StringType(), False), SF("n", IntegerType(), True)]),
        ST([SF("n", LongType(), True), SF("extra", StringType(), True)]),
    )
    assert out["n"].dataType == LongType()
    assert "extra" in out.fieldNames()


def test_anti_join_new_multi_keys_any_unseen_survives(spark):
    # ref survival rule (NotInIndexFlow.scala:143): keep a row if ANY of its
    # ids is unseen; drop only when ALL ids are already in the target.
    from concepts_pipeline_spark.operators.merge_ops import anti_join_new_multi_keys

    incoming = spark.createDataFrame(
        [
            ("all_seen", ["k1", "k2"]),
            ("partly_seen", ["k1", "kx"]),
            ("all_unseen", ["ka", "kb"]),
            ("single_seen", ["k3"]),
            ("single_unseen", ["kz"]),
        ],
        "row_id string, ids array<string>",
    )
    target = spark.createDataFrame(
        [("k1",), ("k2",), ("k3",)], "id string"
    )
    out = anti_join_new_multi_keys(incoming, target, ["row_id"], "ids", "id")
    got = sorted(r["row_id"] for r in out.collect())
    assert got == ["all_unseen", "partly_seen", "single_unseen"]
    # surviving rows come back intact (semi-join preserves the original row)
    row = {r["row_id"]: r["ids"] for r in out.collect()}
    assert row["partly_seen"] == ["k1", "kx"]


def test_merge_sum_cols_accumulates_counters(spark, tmp_path):
    """sum_cols: numeric payload columns ADD on match (the painless script's
    counter-accumulate arm) while array_union_cols union; inserts seed the
    running total; a column outside the payload is rejected."""
    import pytest
    from pyspark.sql.types import LongType

    sch = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType()), True),
            StructField("n_events", LongType(), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / "acc"), sch, ["doc_id"], num_buckets=4)
    batch = StructType(list(sch.fields) + [StructField("op", StringType(), False)])
    b1 = spark.createDataFrame(
        [("a", [1, 2], 2, "U"), ("b", [5], 1, "U")], batch
    )
    merge_into(spark, t, b1, update_mode="array_union",
               array_union_cols=["tokens"], sum_cols=["n_events"])
    b2 = spark.createDataFrame(
        [("a", [2, 3], 3, "U"), ("c", [9], 4, "U")], batch
    )
    merge_into(spark, t, b2, update_mode="array_union",
               array_union_cols=["tokens"], sum_cols=["n_events"])
    got = {
        r["doc_id"]: (r["tokens"], r["n_events"]) for r in t.read(spark).collect()
    }
    assert got == {
        "a": ([1, 2, 3], 5),  # union {1,2}∪{2,3}, counters 2+3
        "b": ([5], 1),
        "c": ([9], 4),
    }
    with pytest.raises(ValueError, match="not a payload column"):
        merge_into(spark, t, b2, update_mode="array_union",
                   array_union_cols=["tokens"], sum_cols=["nope"])


def test_read_for_keys_df_set_oriented_lookup(spark, tmp_path):
    """DataFrame-probe lookup: bucket-pruned semi-join, no driver-side key
    materialization — equal to the list-probe path, MoR-resolving."""
    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.lake.merge import (
        HIDDEN_DELETED, read_for_keys, read_for_keys_df,
    )
    from tests.test_lake_table import TOKENS_SCHEMA

    pipe = CdcPipeline(
        spark, str(tmp_path / "rk"), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4, strategy="mor",
    )
    rows = [(f"k{i}", i + 1, "I", [i], 1, "s") for i in range(50)]
    pipe.apply_batch(
        spark.createDataFrame(
            rows,
            "doc_id string, lsn long, op string, tokens array<int>, "
            "n_tok int, source string",
        ),
        fence_token="b0",
    )
    pipe.apply_batch(
        spark.createDataFrame(
            [("k1", 100, "U", [99], 1, "s"), ("k2", 101, "D", None, None, None)],
            "doc_id string, lsn long, op string, tokens array<int>, "
            "n_tok int, source string",
        ),
        fence_token="b1",
    )
    keys = ["k1", "k2", "k3", "nope"]
    probe_df = spark.createDataFrame([(k,) for k in keys], "doc_id string")
    a = read_for_keys(spark, pipe.target, keys)
    b = read_for_keys_df(spark, pipe.target, probe_df)
    norm = lambda df: sorted(
        (r["doc_id"], tuple(r["tokens"] or []), bool(r[HIDDEN_DELETED]))
        for r in df.collect()
    )
    assert norm(a) == norm(b)
    live = {r["doc_id"] for r in b.filter(~F.col(HIDDEN_DELETED)).collect()}
    assert live == {"k1", "k3"}  # k2 tombstoned, nope absent
