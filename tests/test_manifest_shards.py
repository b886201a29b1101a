"""Sharded manifests: commits rewrite only touched shards (O(touched-buckets)
metadata I/O, the manifest-list answer to 'would the commit path hold at
2^16 buckets'), reads are transparent, and expiry reclaims dead shards."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

import concepts_pipeline_spark.lake.table as lt
from concepts_pipeline_spark.cdc.apply import CdcPipeline

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)
LOG = ("lsn long, op string, doc_id string, tokens array<int>, "
       "n_tok int, source string")


def batch(spark, lsns, keys):
    return spark.createDataFrame(
        [(l, "U", k, [l % 7, l % 5], 2, "s") for l, k in zip(lsns, keys)], LOG
    )


def state(df):
    return {(r["doc_id"], tuple(r["tokens"]), r["n_tok"]) for r in df.collect()}


def shard_files(t):
    d = os.path.join(t.path, "_manifests")
    return sorted(n for n in os.listdir(d) if n.startswith("s-"))


def test_sharded_commits_reuse_untouched_shards(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lt, "INLINE_FILES_MAX", 4)
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), SCHEMA, ["doc_id"], num_buckets=32,
    )
    # batch 1: spread keys over many buckets -> many files -> sharded manifest
    b1 = batch(spark, range(100), [f"k{i}" for i in range(100)])
    pipe.apply_batch(b1, fence_token="s:1")
    t = pipe.target
    m1 = t.manifest()
    assert m1.shard_refs, "manifest should be sharded past the inline max"
    raw = t._manifest_raw(m1.version)
    assert raw["files"] == [] and raw["files_shards"]
    want = state(pipe.final_state())
    assert len(want) == 100

    # batch 2: ONE key -> only the shard(s) covering its bucket may change
    refs_before = {r["key"]: r["hash"] for r in m1.shard_refs}
    b2 = batch(spark, [1000], ["k1"])
    pipe.apply_batch(b2, fence_token="s:2")
    m2 = t.manifest()
    refs_after = {r["key"]: r["hash"] for r in m2.shard_refs}
    changed = [k for k in refs_after if refs_after[k] != refs_before.get(k)]
    assert 1 <= len(changed) <= 2, f"single-key commit changed shards {changed}"
    # reused shards point at the SAME content-addressed files
    same = [k for k in refs_after if refs_after[k] == refs_before.get(k)]
    assert len(same) >= len(refs_after) - 2

    # reads stay transparent and correct
    got = state(pipe.final_state())
    want = {x for x in want if x[0] != "k1"} | {("k1", (1000 % 7, 0), 2)}
    assert got == want

    # time travel across the shard boundary still works
    assert len(state(
        t.read(spark, version=m1.version).filter(~F.col("_deleted"))
    )) == 100


def test_expiry_reclaims_dead_shards(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lt, "INLINE_FILES_MAX", 4)
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), SCHEMA, ["doc_id"], num_buckets=32,
    )
    for i in range(3):
        pipe.apply_batch(
            batch(spark, range(i * 50, i * 50 + 50),
                  [f"k{j}" for j in range(50)]),
            fence_token=f"e:{i}",
        )
    t = pipe.target
    before = shard_files(t)
    assert before
    want = state(pipe.final_state())
    t.expire_snapshots(keep_last=1, orphan_grace_seconds=0)
    after = shard_files(t)
    live = {os.path.basename(r["path"]) for r in t.manifest().shard_refs}
    assert set(after) == live  # only live shards remain
    assert len(after) < len(before) + 1
    assert state(pipe.final_state()) == want

    # orphan shard (losing attempt) is reclaimed past grace
    orphan = os.path.join(t.path, "_manifests", "s-deadbeefdeadbeef.json")
    with open(orphan, "w") as fh:
        json.dump([], fh)
    os.utime(orphan, (1, 1))
    t.expire_snapshots(keep_last=1, orphan_grace_seconds=3600)
    assert not os.path.exists(orphan)


def test_distributed_footer_stats_match_driver_path(spark, tmp_path, monkeypatch):
    """Past the threshold, footer stats fan out as a Spark job — the manifest
    entries must be identical to the driver-threadpool path."""
    from concepts_pipeline_spark.lake import LakeTable

    def build(path, thresh):
        monkeypatch.setattr(lt, "DISTRIBUTED_STATS_MIN", thresh)
        t = LakeTable.create(str(tmp_path / path), SCHEMA, ["doc_id"],
                             num_buckets=16,
                             properties={"stat_cols": ["source", "n_tok"]})
        df = spark.createDataFrame(
            [(f"k{i:03d}", [i], 1, "s") for i in range(200)], SCHEMA
        )
        t.append(df)
        return {
            (f.path.split("-", 1)[1], f.bucket, f.rows, f.min_key, f.max_key,
             json.dumps(f.col_stats, sort_keys=True))
            for f in t.manifest().files
        }

    driver = build("drv", 10_000)   # always driver path
    dist = build("dst", 0)          # always distributed path
    assert driver == dist
