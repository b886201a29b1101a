"""Column DDL: DROP COLUMN / RENAME COLUMN as metadata-only commits —
read-side remapping, time travel, resurrection guards, and diff pre-images
across a rename boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concepts_pipeline_spark.cdc.apply import CdcPipeline
from concepts_pipeline_spark.lake.schema import SchemaEvolutionError
from tests.test_lake_table import TOKENS_SCHEMA


def _batch(spark, rows, ddl=None):
    return spark.createDataFrame(
        rows,
        ddl or ("doc_id string, lsn long, op string, tokens array<int>, "
                "n_tok int, source string"),
    )


def _pipe(spark, tmp_path, name="t"):
    return CdcPipeline(
        spark, str(tmp_path / name), TOKENS_SCHEMA, ["doc_id"],
        num_buckets=4,
    )


def test_drop_column_is_metadata_only_and_time_travel_keeps_it(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web"),
                       ("b", 2, "I", [2], 1, "book")]),
        fence_token="b0",
    )
    v_before = pipe.target.current_version()
    files_before = [f.path for f in pipe.target.manifest().files]
    pipe.target.drop_column("source")
    # metadata-only: same data files, column gone from reads
    assert [f.path for f in pipe.target.manifest().files] == files_before
    assert "source" not in pipe.final_state().columns
    got = {r["doc_id"]: r["n_tok"] for r in pipe.final_state().collect()}
    assert got == {"a": 1, "b": 1}
    # time travel still sees the column with its values
    old = pipe.target.read(spark, version=v_before)
    assert {r["source"] for r in old.collect()} == {"web", "book"}
    # resurrection guard: a later batch re-adding the dropped name is refused
    with pytest.raises(SchemaEvolutionError, match="previously dropped"):
        pipe.apply_batch(
            _batch(spark, [("c", 3, "I", [3], 1, "zzz")]), fence_token="b1"
        )


def test_drop_column_guards(spark, tmp_path):
    """Only the engine's own columns are refused: a user column that merely
    starts with "_" (``_score``, ``_rank``) is data, and can be dropped or
    renamed. A rename's NEW name may not start with "_"."""
    pipe = _pipe(spark, tmp_path, name="g")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web", 0.5, 7)],
               ddl="doc_id string, lsn long, op string, tokens array<int>, "
                   "n_tok int, source string, _score double, _rank int"),
        fence_token="b0",
    )
    with pytest.raises(ValueError, match="key column"):
        pipe.target.drop_column("doc_id")
    pipe.target.drop_column("_score")
    assert "_score" not in pipe.final_state().columns
    with pytest.raises(ValueError, match="hidden"):
        pipe.target.drop_column("_lsn")
    with pytest.raises(ValueError, match="no such column"):
        pipe.target.drop_column("nope")
    pipe.target.rename_column("_rank", "rank")
    assert [r["rank"] for r in pipe.final_state().collect()] == [7]
    with pytest.raises(ValueError, match="hidden"):
        pipe.target.rename_column("_lsn", "lsn_copy")
    with pytest.raises(ValueError, match="reserved"):
        pipe.target.rename_column("source", "_source")


def test_rename_column_reads_old_files_and_accepts_new_name(spark, tmp_path):
    pipe = _pipe(spark, tmp_path, name="r")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [1], 1, "web"),
                       ("b", 2, "I", [2], 1, "book")]),
        fence_token="b0",
    )
    pipe.target.rename_column("source", "origin")
    got = {r["doc_id"]: r["origin"] for r in pipe.final_state().collect()}
    assert got == {"a": "web", "b": "book"}  # old files remapped on read
    # new batches write the NEW name; the old name is tombstoned
    pipe.apply_batch(
        _batch(spark, [("c", 3, "I", [3], 1, "press")],
               ddl="doc_id string, lsn long, op string, tokens array<int>, "
                   "n_tok int, origin string"),
        fence_token="b1",
    )
    got = {r["doc_id"]: r["origin"] for r in pipe.final_state().collect()}
    assert got == {"a": "web", "b": "book", "c": "press"}
    with pytest.raises(SchemaEvolutionError, match="previously dropped"):
        pipe.apply_batch(
            _batch(spark, [("d", 4, "I", [4], 1, "old-name")]),
            fence_token="b2",
        )
    # chained rename composes on the oldest files
    pipe.target.rename_column("origin", "src2")
    got = {r["doc_id"]: r["src2"] for r in pipe.final_state().collect()}
    assert got == {"a": "web", "b": "book", "c": "press"}
    with pytest.raises(ValueError, match="already exists"):
        pipe.target.rename_column("n_tok", "src2")


def test_diff_pre_images_across_rename_boundary(spark, tmp_path):
    """snapshot_diff spanning a rename must carry TRUE pre-images under the
    new name — an incremental view folding the span would otherwise subtract
    NULLs (wrong aggregates)."""
    from concepts_pipeline_spark.lake.diff import snapshot_diff

    pipe = _pipe(spark, tmp_path, name="d")
    pipe.apply_batch(
        _batch(spark, [("a", 1, "I", [5, 6, 7], 3, "web")]), fence_token="b0"
    )
    v0 = pipe.target.current_version()
    pipe.target.rename_column("n_tok", "tok_count")
    pipe.apply_batch(
        _batch(spark, [("a", 10, "U", [1, 2], 2, "web")],
               ddl="doc_id string, lsn long, op string, tokens array<int>, "
                   "tok_count int, source string"),
        fence_token="b1",
    )
    d = snapshot_diff(
        spark, pipe.target, v0, pipe.target.current_version(),
        include_old=True,
    )
    row = d.filter(F.col("doc_id") == "a").first()
    assert row["change_type"] == "update"
    assert row["tok_count"] == 2
    assert row["old_tok_count"] == 3  # the true pre-image, remapped
