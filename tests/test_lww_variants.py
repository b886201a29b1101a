"""``lww_latest`` against a reference that lives here: the row hash is computed
Spark-side (xxhash64 has no Python twin), every row is collected, and each
key's winner is picked in Python by (max lsn, delete before upsert, min hash)."""

from __future__ import annotations

from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.derive import derived_change_log
from concepts_pipeline_spark.operators.lww import lww_latest

SF = "/root/testdata/sf0.001"


def reference_winners(df, key="doc_id"):
    hashed = df.withColumn("__h", F.xxhash64(*[F.col(c) for c in df.columns]))
    best = {}
    for r in hashed.collect():
        rank = (r["lsn"], r["op"] == "D", -r["__h"])
        if r[key] not in best or rank > best[r[key]][0]:
            best[r[key]] = (rank, r)
    return {k: tuple(r[c] for c in df.columns) for k, (_, r) in best.items()}


def winners(df, key="doc_id"):
    return {r[key]: tuple(r) for r in df.collect()}


def test_lww_matches_python_reference(spark):
    log = derived_change_log(spark, SF)
    got = winners(lww_latest(log, ["doc_id"]))
    want = reference_winners(log)
    assert len(got) == len(want) > 0
    assert got == want


def test_same_lsn_delete_outranks_upsert(spark):
    schema = ("lsn long, op string, doc_id string, tokens array<int>, "
              "n_tok int, source string")
    racing = [(5, "U", "k", [1], 1, "s"), (5, "D", "k", None, None, "s"),
              (3, "U", "k", [9], 1, "s")]
    out = lww_latest(spark.createDataFrame(racing, schema), ["doc_id"]).collect()
    assert len(out) == 1 and out[0]["op"] == "D"

    # equal (lsn, op), different payloads: the residual row-hash tiebreak
    # decides, whatever the input order
    pair = [(7, "U", "k", [1], 1, "a"), (7, "U", "k", [2], 1, "b")]
    for rows in (pair, pair[::-1]):
        df = spark.createDataFrame(rows, schema)
        got = winners(lww_latest(df, ["doc_id"]))
        assert got == reference_winners(df)
        assert got["k"] in [tuple(r) for r in pair]
