"""Full-snapshot synchronization (CdcPipeline.sync_snapshot): make the table
equal a complete dump as one fenced batch — upserts for every dump row,
synthesized deletes for every live key absent from it, all at one LSN. The
reference re-ingests full snapshots but can never delete; this closes that.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from tests.test_lake_table import TOKENS_SCHEMA

EV_DDL = ("doc_id string, lsn long, op string, tokens array<int>, "
          "n_tok int, source string")
SNAP_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def _pipe(spark, tmp_path, name, **kw):
    return CdcPipeline(
        spark, str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
        quarantine_path=str(tmp_path / f"{name}-q"), num_buckets=4, **kw,
    )


def _state(pipe):
    return {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in pipe.final_state().collect()
    }


@pytest.mark.parametrize("mode,strat", [
    ("replace", "cow"), ("partial", "cow"),
    ("replace", "mor"), ("partial", "mor"),
])
def test_sync_snapshot_all_modes(spark, tmp_path, mode, strat):
    """Update / insert / delete / tombstone-untouched, then LSN interplay
    (stale redelivery stays dead, pre-sync event loses, post-sync wins) and
    fenced replay — identical under every update_mode × strategy."""
    pipe = _pipe(spark, tmp_path, f"{mode}-{strat}",
                 update_mode=mode, strategy=strat)
    pipe.apply_batch(spark.createDataFrame([
        ("keep", 1, "U", [1], 1, "s"),
        ("drop", 2, "U", [2], 1, "s"),
        ("dead", 3, "U", [3], 1, "s"),
        ("dead", 4, "D", None, None, None),
    ], EV_DDL), "b1")
    snap = spark.createDataFrame(
        [("keep", [9], 1, "snap"), ("new", [5], 1, "snap")], SNAP_DDL
    )
    pipe.sync_snapshot(snap, "sync1")  # L = 5
    assert _state(pipe) == {"keep": ([9], 1, "snap"), "new": ([5], 1, "snap")}

    pipe.apply_batch(spark.createDataFrame([
        ("dead", 3, "U", [3], 1, "s"),    # stale vs tombstone@4: stays dead
        ("keep", 2, "U", [7], 1, "old"),  # lsn 2 < L: loses to snapshot
        ("new", 9, "U", [6], 1, "post"),  # lsn 9 > L: wins
    ], EV_DDL), "b2")
    assert _state(pipe) == {
        "keep": ([9], 1, "snap"), "new": ([6], 1, "post")
    }
    v = pipe.target.current_version()
    r = pipe.sync_snapshot(snap, "sync1")  # fenced replay
    assert r.stats.skipped and pipe.target.current_version() == v


@pytest.mark.parametrize("strat", ["cow", "mor"])
def test_sync_null_semantics_on_partial_tables(spark, tmp_path, strat):
    """On a partial table a dump NULL is ambiguous: 'clear' (default) treats
    the dump as COMPLETE (the column IS null — whole-row statement at the
    sync LSN); 'keep' treats it as sparse (registers preserve the value).
    A dump row with NULL tokens is applied, not quarantined, under both."""
    for null_means, want_src, want_n in (
        ("clear", None, (None, None, "s1")),
        ("keep", "s0", ([1], 1, "s1")),
    ):
        pipe = _pipe(spark, tmp_path, f"nm-{strat}-{null_means}",
                     update_mode="partial", strategy=strat)
        pipe.apply_batch(spark.createDataFrame(
            [("a", 1, "U", [1], 1, "s0"), ("n", 1, "U", [1], 1, "s0")],
            EV_DDL), "b1")
        snap = spark.createDataFrame(
            [("a", [9], 1, None), ("n", None, None, "s1")], SNAP_DDL)
        pipe.sync_snapshot(snap, "s", null_means=null_means)
        assert _state(pipe) == {"a": ([9], 1, want_src), "n": want_n}, (
            strat, null_means)
        # registers stay coherent either way: an older source assignment
        # arriving later must lose to the sync's statement
        pipe.apply_batch(spark.createDataFrame(
            [("a", 1, "U", None, None, "late-old")], EV_DDL), "b2")
        assert _state(pipe)["a"][2] == want_src


def test_sync_snapshot_duplicate_dump_keys_resolve_deterministically(
    spark, tmp_path
):
    """A dump with duplicate keys still yields one deterministic row (the
    same-LSN tiebreak), not a runtime error or nondeterminism."""
    pipe = _pipe(spark, tmp_path, "dup")
    snap = spark.createDataFrame(
        [("a", [1], 1, "x"), ("a", [2], 1, "y")], SNAP_DDL
    )
    pipe.sync_snapshot(snap, "s1")
    first = _state(pipe)
    pipe2 = _pipe(spark, tmp_path, "dup2")
    pipe2.sync_snapshot(snap, "s1")
    assert _state(pipe2) == first and set(first) == {"a"}


def test_cli_sync_snapshot(spark, tmp_path, capsys):
    import json

    from concepts_pipeline_spark.__main__ import main

    spark.createDataFrame(
        [("a", 1, "U", [1], 1, "s"), ("b", 2, "U", [2], 1, "s")], EV_DDL
    ).write.parquet(f"file://{tmp_path}/feed")
    target = str(tmp_path / "t")
    assert main([
        "replay", "--feed", f"file://{tmp_path}/feed", "--target", target,
        "--quarantine", str(tmp_path / "q"),
    ]) == 0
    capsys.readouterr()
    spark.createDataFrame([("a", [9], 1, "snap")], SNAP_DDL).write.parquet(
        f"file://{tmp_path}/dump"
    )
    assert main([
        "sync-snapshot", "--snapshot", f"file://{tmp_path}/dump",
        "--target", target, "--fence", "sync1",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["final_rows"] == 1 and out["deleted"] == 1


def test_sync_covers_schema_evolved_columns(spark, tmp_path):
    """The dump speaks the table's CURRENT schema: a column added after
    construction must flow through the sync (construction-time schema would
    silently drop it and null it on every key — review finding)."""
    pipe = _pipe(spark, tmp_path, "evo")
    wide_ev = EV_DDL + ", lang string"
    pipe.apply_batch(
        spark.createDataFrame([("a", 1, "U", [1], 1, "s", "en")], wide_ev),
        "b1",
    )
    snap = spark.createDataFrame(
        [("a", [9], 1, "snap", "de"), ("b", [5], 1, "snap", "fr")],
        SNAP_DDL + ", lang string",
    )
    pipe.sync_snapshot(snap, "s1")
    got = {
        r["doc_id"]: (r["tokens"], r["source"], r["lang"])
        for r in pipe.final_state().collect()
    }
    assert got == {"a": ([9], "snap", "de"), "b": ([5], "snap", "fr")}


def test_sync_snapshot_wap_gate_blocks_catastrophic_dump(spark, tmp_path):
    """Gated reconciliation: an empty/truncated dump would tombstone the
    whole table — with audit set, the sync stages on a branch, the audit sees
    the FULL candidate effect (deletes included), and a rejection leaves main
    and the fence untouched for a corrected dump."""
    from concepts_pipeline_spark.cdc.apply import BatchAuditError
    from concepts_pipeline_spark.lake.merge import HIDDEN_DELETED

    pipe = _pipe(spark, tmp_path, "wapres")
    pipe.apply_batch(spark.createDataFrame(
        [("a", 1, "U", [1], 1, "s"), ("b", 2, "U", [2], 1, "s"),
         ("c", 3, "U", [3], 1, "s")], EV_DDL), "b1")

    def keeps_half(s, branch, result):
        live = branch.read(s).filter(
            ~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False))
        ).count()
        return live >= 2

    truncated = spark.createDataFrame([("a", [1], 1, "s")], SNAP_DDL)
    v = pipe.target.current_version()
    with pytest.raises(BatchAuditError):
        pipe.sync_snapshot(truncated, "r1", audit=keeps_half)
    assert pipe.target.current_version() == v
    assert not pipe.target.has_fence_token("r1")
    assert len(_state(pipe)) == 3

    good = spark.createDataFrame(
        [("a", [9], 1, "snap"), ("b", [2], 1, "s")], SNAP_DDL
    )
    pipe.sync_snapshot(good, "r1", audit=keeps_half)  # same fence, corrected
    assert _state(pipe) == {"a": ([9], 1, "snap"), "b": ([2], 1, "s")}


def test_cli_sync_snapshot_delete_gate(spark, tmp_path, capsys):
    """sync-snapshot --wap-max-delete-frac: a truncated dump is audit-rejected
    with the table untouched; a sane dump under the same fence publishes."""
    import json

    from concepts_pipeline_spark.cdc.apply import BatchAuditError
    from concepts_pipeline_spark.__main__ import main

    spark.createDataFrame(
        [("a", 1, "U", [1], 1, "s"), ("b", 2, "U", [2], 1, "s"),
         ("c", 3, "U", [3], 1, "s")], EV_DDL
    ).write.parquet(f"file://{tmp_path}/feed")
    target = str(tmp_path / "t")
    assert main(["replay", "--feed", f"file://{tmp_path}/feed",
                 "--target", target]) == 0
    capsys.readouterr()
    spark.createDataFrame([("a", [1], 1, "s")], SNAP_DDL).write.parquet(
        f"file://{tmp_path}/bad"
    )
    with pytest.raises(BatchAuditError):
        main(["sync-snapshot", "--snapshot", f"file://{tmp_path}/bad",
              "--target", target, "--fence", "s1",
              "--wap-max-delete-frac", "0.5"])
    capsys.readouterr()
    spark.createDataFrame(
        [("a", [1], 1, "s"), ("b", [9], 1, "snap")], SNAP_DDL
    ).write.parquet(f"file://{tmp_path}/good")
    assert main(["sync-snapshot", "--snapshot", f"file://{tmp_path}/good",
                 "--target", target, "--fence", "s1",
                 "--wap-max-delete-frac", "0.5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["final_rows"] == 2 and out["deleted"] == 1
