"""CLI end-to-end: the three reference-service analogues chained
(ingest → aggregate → record) plus replay/compact/expire, via main()."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import functions as F

from concepts_pipeline_spark.__main__ import main
from concepts_pipeline_spark.cdc.derive import derived_change_log
from concepts_pipeline_spark.lake import LakeTable

SF = "/root/testdata/sf0.001"


def skos_line(ident, label):
    path = f"/authorities/subjects/{ident}"
    return json.dumps({"@id": path, "@graph": [
        {"@id": f"http://id.loc.gov{path}", "skos:prefLabel": label}
    ]})


def work_doc(wid, concepts):
    return json.dumps({"id": wid, "type": "Work", "subjects": concepts})


def concept(cid, value, authority="lc-subjects", label="L"):
    return {"id": cid, "type": "Subject", "label": label,
            "identifiers": [{"value": value, "identifierType": {"id": authority}}]}


def run(capsys, argv):
    assert main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_ingest_aggregate_record(spark, tmp_path, capsys):
    gz = tmp_path / "dump.ndjson.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write(skos_line("sh1", "Sanitation") + "\n")
        fh.write(skos_line("sh2", "Libraries") + "\n")

    out = run(capsys, [
        "ingest", "--input", f"file://{gz}", "--table", str(tmp_path / "auth"),
        "--fence", "i:1",
    ])
    assert out["inserted"] == 2

    works = spark.createDataFrame(
        [("w1", work_doc("w1", [concept("c1", "sh1")])),
         ("w2", work_doc("w2", [concept("c2", "sh1"), concept("c3", "sh2")]))],
        ["work_id", "doc"],
    )
    works.write.parquet(f"file://{tmp_path}/works")
    out = run(capsys, [
        "aggregate", "--input", f"file://{tmp_path}/works",
        "--table", str(tmp_path / "cat"), "--fence", "a:1",
    ])
    assert out["applied"] == 2  # (lc-subjects, sh1) and (lc-subjects, sh2)

    out = run(capsys, [
        "record", "--catalogue", str(tmp_path / "cat"),
        "--authoritative", str(tmp_path / "auth"),
        "--out", f"file://{tmp_path}/final",
    ])
    assert out["rows"] == 3  # c1, c2 (sameAs siblings), c3
    final = {r["canonical_id"]: r for r in
             spark.read.parquet(f"file://{tmp_path}/final").collect()}
    assert final["c1"]["label"] == "Sanitation"  # authoritative label won
    assert sorted(final["c1"]["same_as"]) == ["c2"]

    # --docs: the reference recorder's actual sink format
    import json as _json

    out = run(capsys, [
        "record", "--catalogue", str(tmp_path / "cat"),
        "--authoritative", str(tmp_path / "auth"),
        "--out", f"file://{tmp_path}/final-docs", "--docs",
    ])
    assert out["rows"] == 3 and out["docs"]
    docs = {r["canonical_id"]: _json.loads(r["doc"]) for r in
            spark.read.parquet(f"file://{tmp_path}/final-docs").collect()}
    assert docs["c1"]["display"]["label"] == "Sanitation"
    assert docs["c1"]["display"]["sameAs"] == ["c2"]
    assert list(docs["c1"]) == ["query", "display"]


def test_cli_replay_compact_expire(spark, tmp_path, capsys):
    feed = derived_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(3))
    )
    feed.write.parquet(f"file://{tmp_path}/feed")
    target = str(tmp_path / "tokens")
    out = run(capsys, [
        "replay", "--feed", f"file://{tmp_path}/feed", "--target", target,
        "--strategy", "mor", "--quarantine", str(tmp_path / "q"),
        "--lineage", str(tmp_path / "l"),
    ])
    assert len(out["batches"]) == 3 and out["final_rows"] == 12

    out = run(capsys, ["compact", "--table", target, "--max-delta-files", "1"])
    assert out["compacted_buckets"] > 0

    out = run(capsys, ["expire", "--table", target, "--keep-last", "1"])
    assert out["manifests_removed"] > 0
    assert LakeTable(target).exists()


def test_cli_cluster(spark, tmp_path, capsys):
    feed = derived_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(2))
    )
    feed.write.parquet(f"file://{tmp_path}/feed")
    target = str(tmp_path / "tokens")
    before = run(capsys, [
        "replay", "--feed", f"file://{tmp_path}/feed", "--target", target,
        "--quarantine", str(tmp_path / "q"), "--lineage", str(tmp_path / "l"),
    ])["final_rows"]

    out = run(capsys, [
        "cluster", "--table", target, "--by", "n_tok,source", "--bits", "4",
    ])
    assert out["files"] > 0 and out["version"] > 0
    t = LakeTable(target)
    m = t.manifest()
    assert m.summary["operation"] == "cluster"
    assert set(m.properties["clustered_by"]) == {"n_tok", "source"}
    live = t.read(spark).filter(~F.col("_deleted")).count()
    assert live == before

    # pruned predicate scan over the clustered layout: dry-run reports the
    # file cut, the real read returns only matching live rows
    dry = run(capsys, [
        "scan", "--table", target, "--where", "source:click", "--dry-run",
    ])
    assert 0 < dry["files_kept"] < dry["files_total"]
    out = run(capsys, [
        "scan", "--table", target, "--where", "source:click",
    ])
    assert out["returned"] == len(out["rows"]) > 0
    assert all(r["source"] == "click" for r in out["rows"])


def test_cli_rollback_and_stats(spark, tmp_path, capsys):
    import json

    from concepts_pipeline_spark.__main__ import main
    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from tests.test_cdc_apply import TARGET_SCHEMA

    LOG = ("lsn long, op string, doc_id string, tokens array<int>, "
           "n_tok int, source string")
    pipe = CdcPipeline(spark, str(tmp_path / "t"), TARGET_SCHEMA, ["doc_id"],
                       num_buckets=2)
    pipe.apply_batch(
        spark.createDataFrame([(1, "I", "a", [1], 1, "s")], LOG), "c:1")
    v1 = pipe.target.current_version()
    pipe.apply_batch(
        spark.createDataFrame([(2, "I", "b", [2], 1, "s")], LOG), "c:2")

    main(["stats", "--table", str(tmp_path / "t")])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows"] == 2 and stats["num_buckets"] == 2

    main(["rollback", "--table", str(tmp_path / "t"), "--to-version", str(v1)])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rolled_back_to"] == v1
    assert pipe.final_state().count() == 1


def test_cli_branch_lifecycle(spark, tmp_path, capsys):
    import json

    from concepts_pipeline_spark.__main__ import main
    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from tests.test_cdc_apply import TARGET_SCHEMA

    LOG = ("lsn long, op string, doc_id string, tokens array<int>, "
           "n_tok int, source string")
    pipe = CdcPipeline(spark, str(tmp_path / "t"), TARGET_SCHEMA, ["doc_id"],
                       num_buckets=2)
    pipe.apply_batch(
        spark.createDataFrame([(1, "I", "a", [1], 1, "s")], LOG), "c:1")
    table = str(tmp_path / "t")

    out = run(capsys, ["branch", "--table", table, "--create", "wap"])
    assert out["created"] == "wap" and out["fork_version"] >= 1
    # stage a batch onto the branch by swapping the pipeline's target view
    pipe.target = pipe.target.branch("wap")
    pipe.apply_batch(
        spark.createDataFrame([(2, "I", "b", [2], 1, "s")], LOG), "c:2")
    pipe.target = LakeTable(table)

    out = run(capsys, ["branch", "--table", table])
    assert out["branches"] == ["wap"]
    out = run(capsys, ["branch", "--table", table, "--publish", "wap",
                       "--drop-after"])
    assert out["published"] == "wap"
    assert pipe.final_state().count() == 2
    out = run(capsys, ["branch", "--table", table])
    assert out["branches"] == []

    out = run(capsys, ["tag", "--table", table, "--create", "rel-1"])
    assert out["created"] == "rel-1" and out["version"] >= 1
    out = run(capsys, ["tag", "--table", table])
    assert out["tags"] == ["rel-1"]
    out = run(capsys, ["tag", "--table", table, "--drop", "rel-1"])
    assert out["dropped"] == "rel-1"


def test_cli_stream_wap_delete_gate(spark, tmp_path, capsys):
    """CLI stream --wap-max-delete-frac: a delete-heavy micro-batch is
    audit-rejected (stream errors out, main untouched); rerunning with a
    permissive gate from the same checkpoint converges."""
    import pytest as _pytest

    from concepts_pipeline_spark.lake import LakeTable

    feed = str(tmp_path / "feed")
    # file 0: three inserts; file 1: deletes for two of three keys (66% > 50%)
    spark.createDataFrame(
        [(1, "I", "a", [1], 1, "s"), (2, "I", "b", [2], 1, "s"),
         (3, "I", "c", [3], 1, "s")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.parquet(f"file://{feed}/f0")
    spark.createDataFrame(
        [(4, "D", "a", None, None, None), (5, "D", "b", None, None, None)],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.parquet(f"file://{feed}/f1")
    import glob
    import shutil
    flat = str(tmp_path / "flat")
    import os as _os
    _os.makedirs(flat)
    for i, src in enumerate(sorted(glob.glob(f"{feed}/f*/part-*.parquet"))):
        shutil.copy(src, f"{flat}/{i:02d}.parquet")

    target = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    argv = ["stream", "--feed", flat, "--target", target,
            "--checkpoint", ckpt, "--max-files-per-trigger", "1",
            "--wap-max-delete-frac", "0.5"]
    from concepts_pipeline_spark.__main__ import main
    with _pytest.raises(Exception):
        main(argv)
    t = LakeTable(target)
    assert t.list_branches() == []
    assert {r["doc_id"] for r in t.read(spark).collect()} == {"a", "b", "c"}
    # permissive gate from the same checkpoint: the gated batch re-delivers
    out = run(capsys, argv[:-1] + ["1.0"])
    assert out["final_rows"] == 1


def test_cli_view_refresh(spark, tmp_path, capsys):
    feed = derived_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(2))
    )
    feed.write.parquet(f"file://{tmp_path}/vfeed")
    target = str(tmp_path / "vtokens")
    run(capsys, [
        "replay", "--feed", f"file://{tmp_path}/vfeed", "--target", target,
    ])
    out = run(capsys, [
        "view-refresh", "--base", target, "--view", str(tmp_path / "view"),
        "--group", "source", "--sum", "tok_sum=n_tok",
    ])
    assert out["mode"] == "incremental" and out["versions_applied"] == 2
    # idempotent second run
    out = run(capsys, [
        "view-refresh", "--base", target, "--view", str(tmp_path / "view"),
        "--group", "source", "--sum", "tok_sum=n_tok",
    ])
    assert out["versions_applied"] == 0
    # bootstrap path
    out = run(capsys, [
        "view-refresh", "--base", target, "--view", str(tmp_path / "view2"),
        "--group", "source", "--sum", "tok_sum=n_tok", "--full",
    ])
    assert out["mode"] == "full" and out["cursor"] == 2


def test_cli_diff(spark, tmp_path, capsys):
    feed = derived_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(2))
    )
    feed.write.parquet(f"file://{tmp_path}/dfeed")
    target = str(tmp_path / "dtokens")
    run(capsys, [
        "replay", "--feed", f"file://{tmp_path}/dfeed", "--target", target,
    ])
    out = run(capsys, [
        "diff", "--table", target, "--from-version", "1",
        "--pre-images", "--out", str(tmp_path / "dout"),
    ])
    assert out["from"] == 1 and out["to"] == 2
    assert sum(out["changes"].values()) > 0
    cols = spark.read.parquet(str(tmp_path / "dout")).columns
    assert "change_type" in cols and "old_tokens" in cols


def test_cli_index_refresh_and_replicate(spark, tmp_path, capsys):
    feed = derived_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(2))
    )
    feed.write.parquet(f"file://{tmp_path}/ifeed")
    target = str(tmp_path / "itokens")
    run(capsys, [
        "replay", "--feed", f"file://{tmp_path}/ifeed", "--target", target,
    ])
    out = run(capsys, [
        "index-refresh", "--base", target, "--index", str(tmp_path / "ix"),
        "--shards", "4",
    ])
    assert out["versions_applied"] == 2 and out["num_shards"] == 4
    # reopen with a different --shards: stored count adopted
    out = run(capsys, [
        "index-refresh", "--base", target, "--index", str(tmp_path / "ix"),
        "--shards", "16",
    ])
    assert out["versions_applied"] == 0 and out["num_shards"] == 4

    out = run(capsys, [
        "replicate", "--primary", target, "--replica", str(tmp_path / "rep"),
        "--buckets", "2", "--coalesce",
    ])
    assert out["mode"] == "coalesced" and out["versions_applied"] == 2
    from concepts_pipeline_spark.lake.replicate import Replica
    rep = Replica(spark, LakeTable(target), str(tmp_path / "rep"))
    assert rep.read().count() == 12  # the sf0.001 final state


def test_cli_lookup(spark, tmp_path, capsys):
    feed = derived_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(2))
    )
    feed.write.parquet(f"file://{tmp_path}/lfeed")
    target = str(tmp_path / "ltokens")
    run(capsys, [
        "replay", "--feed", f"file://{tmp_path}/lfeed", "--target", target,
    ])
    live = {r["doc_id"] for r in spark.read.parquet(
        f"file://{tmp_path}/lfeed").select("doc_id").collect()}
    some_live = sorted(live)[0]
    out = run(capsys, [
        "lookup", "--table", target, "--key", some_live, "no-such-key",
    ])
    assert out["requested"] == 2
    assert out["missing"] == ["no-such-key"]
    if out["found"]:  # the probed key may have been deleted by the feed
        assert out["rows"][0]["doc_id"] == some_live


def test_cli_search_and_count(spark, tmp_path, capsys):
    feed = derived_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(2))
    )
    feed.write.parquet(f"file://{tmp_path}/sfeed")
    target = str(tmp_path / "stokens")
    run(capsys, [
        "replay", "--feed", f"file://{tmp_path}/sfeed", "--target", target,
    ])
    run(capsys, [
        "index-refresh", "--base", target, "--index", str(tmp_path / "six"),
        "--shards", "4",
    ])
    # pick a token that exists in the live state
    from concepts_pipeline_spark.cdc.apply import CdcPipeline  # noqa: F401
    live = spark.read.parquet(f"file://{tmp_path}/sfeed")
    tok = None
    from concepts_pipeline_spark.lake.index import TokenIndex
    ix = TokenIndex(spark, LakeTable(target), str(tmp_path / "six"))
    r = ix.read_all().limit(1).collect()
    assert r, "index should not be empty"
    tok, doc = r[0]["token"], r[0]["doc_id"]
    out = run(capsys, [
        "search", "--base", target, "--index", str(tmp_path / "six"),
        "--token", str(tok), "--mode", "any",
    ])
    assert out["hits"] >= 1 and any(d == doc for d, _ in out["docs"])

    out = run(capsys, ["count", "--table", target])
    assert out["metadata_only"] is True
    assert out["live_rows"] == 12  # the sf0.001 final state


def test_cli_column_ddl(spark, tmp_path, capsys):
    feed = derived_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(2))
    )
    feed.write.parquet(f"file://{tmp_path}/dfeed")
    target = str(tmp_path / "dtokens")
    run(capsys, [
        "replay", "--feed", f"file://{tmp_path}/dfeed", "--target", target,
    ])
    out = run(capsys, [
        "rename-column", "--table", target, "--old", "source", "--new", "origin",
    ])
    assert out["renamed"] == ["source", "origin"]
    out = run(capsys, ["drop-column", "--table", target, "--column", "n_tok"])
    assert out["dropped"] == "n_tok"
    cols = LakeTable(target).manifest().schema.fieldNames()
    assert "origin" in cols and "source" not in cols and "n_tok" not in cols


def test_cli_stream_wap_delete_gate_mor(spark, tmp_path, capsys):
    """The WAP delete gate under --strategy mor: count_live() is None for MoR
    manifests (deltas shadow base rows key-by-key), so the gate must fall back
    to a real merged read at the fork version instead of silently passing
    every batch (the `None or 0` → before==0 → audit-True no-op regression)."""
    import glob
    import os as _os
    import shutil

    import pytest as _pytest

    from concepts_pipeline_spark.lake import LakeTable
    from concepts_pipeline_spark.lake.merge import read_merged

    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, "I", "a", [1], 1, "s"), (2, "I", "b", [2], 1, "s"),
         (3, "I", "c", [3], 1, "s")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.parquet(f"file://{feed}/f0")
    spark.createDataFrame(
        [(4, "D", "a", None, None, None), (5, "D", "b", None, None, None)],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.parquet(f"file://{feed}/f1")
    flat = str(tmp_path / "flat")
    _os.makedirs(flat)
    for i, src in enumerate(sorted(glob.glob(f"{feed}/f*/part-*.parquet"))):
        shutil.copy(src, f"{flat}/{i:02d}.parquet")

    target = str(tmp_path / "t")
    argv = ["stream", "--feed", flat, "--target", target,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--max-files-per-trigger", "1", "--strategy", "mor",
            "--wap-max-delete-frac", "0.5"]
    from concepts_pipeline_spark.__main__ import main
    with _pytest.raises(Exception):
        main(argv)
    t = LakeTable(target)
    assert t.list_branches() == []
    live = read_merged(spark, t).filter(~F.coalesce("_deleted", F.lit(False)))
    assert {r["doc_id"] for r in live.collect()} == {"a", "b", "c"}
    # permissive gate from the same checkpoint: the gated batch re-delivers
    out = run(capsys, argv[:-1] + ["1.0"])
    assert out["final_rows"] == 1


def test_cli_replay_partial_update_mode(spark, tmp_path, capsys):
    """--update-mode partial: sparse-after-image replay through the CLI, both
    strategies, equal final state."""
    from concepts_pipeline_spark.cdc.derive import derived_sparse_change_log

    feed = derived_sparse_change_log(spark, SF).withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(3))
    )
    feed.write.parquet(f"file://{tmp_path}/sfeed")
    states = {}
    for strat in ("cow", "mor"):
        target = str(tmp_path / f"tok-{strat}")
        out = run(capsys, [
            "replay", "--feed", f"file://{tmp_path}/sfeed", "--target", target,
            "--strategy", strat, "--update-mode", "partial",
            "--quarantine", str(tmp_path / f"q-{strat}"),
        ])
        assert len(out["batches"]) == 3
        states[strat] = out["final_rows"]
    assert states["cow"] == states["mor"] > 0


def test_cli_hides_only_engine_columns(spark, tmp_path, capsys):
    """lookup/scan drop the engine's hidden columns, not every "_" column: a
    user column named _score must survive (partial-mode MoR carries all four
    hidden columns)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from concepts_pipeline_spark.cdc.apply import CdcPipeline
    from concepts_pipeline_spark.lake.merge import ALL_HIDDEN
    from tests.test_cdc_apply import TARGET_SCHEMA

    schema = StructType(
        TARGET_SCHEMA.fields + [StructField("_score", DoubleType(), True)]
    )
    LOG = ("lsn long, op string, doc_id string, tokens array<int>, "
           "n_tok int, source string, _score double")
    table = str(tmp_path / "t")
    pipe = CdcPipeline(spark, table, schema, ["doc_id"], num_buckets=2,
                       update_mode="partial", strategy="mor")
    pipe.apply_batch(spark.createDataFrame(
        [(1, "I", "a", [1], 1, "s", 0.5), (2, "I", "b", [2], 1, "s", 1.5)],
        LOG), "c:1")
    pipe.apply_batch(spark.createDataFrame(
        [(3, "U", "a", None, None, None, 2.5)], LOG), "c:2")

    out = run(capsys, ["lookup", "--table", table, "--key", "a"])
    assert out["found"] == 1
    assert out["rows"][0]["_score"] == 2.5
    assert out["rows"][0]["tokens"] == [1]
    assert not set(ALL_HIDDEN) & set(out["rows"][0])
    out = run(capsys, ["scan", "--table", table, "--where", "source:s"])
    assert sorted(r["_score"] for r in out["rows"]) == [1.5, 2.5]
    for r in out["rows"]:
        assert not set(ALL_HIDDEN) & set(r)
