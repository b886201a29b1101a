"""Independent DuckDB reference for the benchmark's correctness checks.

The reference reads the landed feed files themselves, applies the engine's
validity predicate (``concepts_pipeline_spark.cdc.derive.REASON_SQL``) and
folds each key to its highest-LSN valid event; a key whose winner is a delete
is absent. Every comparison is a multiset difference in both directions.
"""

from __future__ import annotations

import tempfile

import duckdb
import pyarrow as pa

from concepts_pipeline_spark.cdc.derive import REASON_SQL

COLS = "doc_id, tokens, n_tok, source"


class Reference:
    def __init__(self, files: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        quoted = ", ".join(f"'{f}'" for f in files)
        self.con.execute(
            f"""CREATE TABLE ev AS
                SELECT lsn, op, doc_id, tokens, n_tok, source, batch_id,
                       {REASON_SQL} AS reason
                FROM read_parquet([{quoted}])"""
        )

    def close(self) -> None:
        self.con.close()

    def quarantined(self, max_batch: int) -> int:
        """Events rejected by validation in segments up to ``max_batch``."""
        return self.con.execute(
            "SELECT count(*) FROM ev WHERE reason IS NOT NULL AND batch_id <= ?",
            [max_batch],
        ).fetchone()[0]

    def _state_sql(self, max_batch: int) -> str:
        return f"""
            SELECT {COLS} FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
              FROM ev WHERE reason IS NULL AND batch_id <= {int(max_batch)}
            ) WHERE rn = 1 AND op <> 'D'"""

    def live_rows(self, max_batch: int) -> int:
        """Live keys after segment ``max_batch``."""
        return self.con.execute(
            f"SELECT count(*) FROM ({self._state_sql(max_batch)})"
        ).fetchone()[0]

    def _diff(self, got: pa.Table, ref_sql: str) -> tuple[int, int]:
        """(rows only in got, rows only in the reference)."""
        self.con.register("got", got)
        try:
            extra = self.con.execute(
                f"SELECT count(*) FROM (SELECT {COLS} FROM got EXCEPT ALL {ref_sql})"
            ).fetchone()[0]
            missing = self.con.execute(
                f"SELECT count(*) FROM ({ref_sql} EXCEPT ALL SELECT {COLS} FROM got)"
            ).fetchone()[0]
        finally:
            self.con.unregister("got")
        return extra, missing

    def state_diff(self, got: pa.Table, max_batch: int) -> tuple[int, int]:
        """Compare a full live-table read with the state after ``max_batch``."""
        return self._diff(got, self._state_sql(max_batch))

    def dump_diff(self, got: pa.Table, dump_file: str) -> tuple[int, int]:
        """Compare a full live-table read with a source dump (after a sync)."""
        return self._diff(got, f"SELECT {COLS} FROM read_parquet('{dump_file}')")

    def lookup_failures(self, lookups: list[dict]) -> int:
        """Lookups whose returned rows differ from the reference state after
        the batch they followed. Each lookup: {"batch", "keys", "rows"} with
        rows as (doc_id, tokens, n_tok, source) tuples."""
        probes = pa.table({
            "lid": [i for i, lk in enumerate(lookups) for _ in lk["keys"]],
            "k": [lk["batch"] for lk in lookups for _ in lk["keys"]],
            "doc_id": [key for lk in lookups for key in lk["keys"]],
        })
        rows = [(i, *r) for i, lk in enumerate(lookups) for r in lk["rows"]]
        got = pa.table({
            "lid": pa.array([r[0] for r in rows], pa.int64()),
            "doc_id": pa.array([r[1] for r in rows], pa.string()),
            "tokens": pa.array([r[2] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([r[3] for r in rows], pa.int32()),
            "source": pa.array([r[4] for r in rows], pa.string()),
        })
        self.con.register("probes", probes)
        self.con.register("got", got)
        try:
            ref = f"""
                SELECT lid, {COLS} FROM (
                  SELECT p.lid, e.*, row_number() OVER (
                    PARTITION BY p.lid, e.doc_id ORDER BY e.lsn DESC) AS rn
                  FROM probes p JOIN ev e
                    ON e.doc_id = p.doc_id AND e.reason IS NULL AND e.batch_id <= p.k
                ) WHERE rn = 1 AND op <> 'D'"""
            bad = self.con.execute(
                f"""SELECT count(DISTINCT lid) FROM (
                      (SELECT lid, {COLS} FROM got EXCEPT ALL {ref})
                      UNION ALL
                      ({ref} EXCEPT ALL SELECT lid, {COLS} FROM got))"""
            ).fetchone()[0]
        finally:
            self.con.unregister("probes")
            self.con.unregister("got")
        return bad
