"""CLI entry points — the engine's analogue of the reference's three service
mains (ingestor/aggregator/recorder Main.scala) plus the CDC/lake lifecycle:

  python -m concepts_pipeline_spark ingest    --input <gz-ndjson…> --table <dir> [--authority lc-subjects]
  python -m concepts_pipeline_spark aggregate --input <works-parquet> --json-col doc --key-col work_id --table <dir>
  python -m concepts_pipeline_spark record    --catalogue <dir> --authoritative <dir> --out <dir>
  python -m concepts_pipeline_spark replay    --feed <parquet-dir> --target <dir> [--strategy cow|mor] [--update-mode replace|partial] [--batch-col batch_id]
  python -m concepts_pipeline_spark stream    --feed <dir> --target <dir> --checkpoint <dir>
  python -m concepts_pipeline_spark sync-snapshot --snapshot <parquet-dir> --target <dir> --fence <token> [--wap-max-delete-frac 0.5]
  python -m concepts_pipeline_spark compact   --table <dir> [--max-delta-files 4]
  python -m concepts_pipeline_spark expire    --table <dir> [--keep-last 2]

All commands run on the ambient Spark config (local[] here; identical code under
``spark-submit --py-files`` on a cluster).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from .session import get_spark

    s = get_spark(app_name=app)
    s.sparkContext.setLogLevel("WARN")
    return s


TOKENS_SCHEMA_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def cmd_ingest(args) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from .lake import LakeTable, merge_into
    from .operators.framing import FrameOverflowError, bounded_frames
    from .operators.skos import filter_geographic_subdivisions, skos_transform

    spark = _spark("cps-ingest")
    raw = spark.read.text(list(args.input))
    # frame bound BEFORE parsing (ref: Scroll.scala:8-18 — the reference fails
    # the stream on overflow; strict mode mirrors that, otherwise overflowing
    # lines are counted and dropped)
    if args.on_overflow == "error":
        # strict mode must know the verdict BEFORE applying: one pre-pass
        # computing count + a sample together
        lines, overflow = bounded_frames(raw, "value", args.max_line_bytes)
        probe = overflow.agg(
            F.count(F.lit(1)).alias("n"),
            F.first(F.struct("frame_bytes", "head")).alias("s"),
        ).first()
        n_overflow = int(probe["n"])
        if n_overflow:
            raise FrameOverflowError(
                f"{n_overflow} line(s) exceed the {args.max_line_bytes}-byte "
                f"frame bound (sample starts: {probe['s']['head'][:80]!r}, "
                f"{probe['s']['frame_bytes']} bytes); re-run with "
                "--on-overflow drop to reject-and-count instead"
            )
        obs = None
    else:
        # drop mode: the overflow count rides the merge's own scan of the ok
        # side as an Observation — no extra pass over the raw input
        from pyspark.sql import Observation

        obs = Observation()
        lines, _overflow = bounded_frames(
            raw, "value", args.max_line_bytes, observation=obs
        )
    concepts = filter_geographic_subdivisions(
        skos_transform(lines, "value", args.authority)
    )
    schema = StructType.fromDDL(
        "authority string, identifier string, label string, "
        "alternative_labels array<string>"
    )
    table = LakeTable.create(
        args.table, schema, ["authority", "identifier"],
        num_buckets=args.buckets, if_not_exists=True,
    )
    stats = merge_into(
        spark, table, concepts.withColumn("op", F.lit("U")),
        fence_token=args.fence,
    )
    if obs is not None:
        if stats.skipped:
            n_overflow = 0  # fenced no-op merge never ran a job over the lines
        else:
            n_overflow = int(obs.get.get("frame_overflow") or 0)
    return {"inserted": stats.inserted, "updated": stats.updated,
            "noop": stats.noop, "skipped": stats.skipped,
            "frame_overflow": n_overflow}


def cmd_aggregate(args) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from .lake import LakeTable, merge_into
    from .operators.extract import accumulate_catalogue_concepts, extract_concepts

    spark = _spark("cps-aggregate")
    works = spark.read.parquet(*args.input)
    concepts = accumulate_catalogue_concepts(
        extract_concepts(works, args.json_col, args.key_col)
    )
    schema = StructType.fromDDL(
        "authority string, identifier_value string, label string, "
        "canonical_ids array<string>, ontology_types array<string>, occurrences long"
    )
    table = LakeTable.create(
        args.table, schema, ["authority", "identifier_value"],
        num_buckets=args.buckets, if_not_exists=True,
    )
    stats = merge_into(
        spark, table, concepts.withColumn("op", F.lit("U")),
        update_mode="array_union",
        array_union_cols=["canonical_ids", "ontology_types"],
        fence_token=args.fence,
    )
    return {"applied": stats.applied, "noop": stats.noop, "skipped": stats.skipped}


def cmd_record(args) -> dict:
    from pyspark.sql import functions as F

    from .lake import LakeTable
    from .operators.record import record_concept_docs, record_concepts

    spark = _spark("cps-record")
    catalogue = LakeTable(args.catalogue).read(spark).select(
        "authority", F.col("identifier_value").alias("identifier"),
        "label", "canonical_ids", "ontology_types",
    )
    authoritative = LakeTable(args.authoritative).read(spark)
    merged = record_concepts(catalogue, authoritative)
    if args.docs:
        # the reference recorder's actual sink format: one nested
        # {query, display} JSON document per concept (Concept.scala:20-51)
        merged = record_concept_docs(merged)
    merged.write.mode("overwrite").parquet(args.out)
    return {"rows": spark.read.parquet(args.out).count(), "docs": bool(args.docs)}


def cmd_replay(args) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from .cdc.apply import CdcPipeline

    spark = _spark("cps-replay")
    from .cdc.feed import read_change_feed

    feed = read_change_feed(
        spark, args.feed, feed_format=args.feed_format,
        toast_sentinel=args.toast_sentinel,
    )
    pipe = CdcPipeline(
        spark,
        target_path=args.target,
        target_schema=StructType.fromDDL(args.schema),
        key_cols=args.keys.split(","),
        quarantine_path=args.quarantine,
        lineage_path=args.lineage,
        changes_path=args.changes,
        num_buckets=args.buckets,
        strategy=args.strategy,
        update_mode=args.update_mode,
    )
    results = []
    if args.batch_col and args.batch_col in feed.columns:
        batch_ids = sorted(
            (r[0] for r in feed.select(args.batch_col).distinct().collect()),
            key=lambda b: (b is None, b),
        )
        for b in batch_ids:
            # eqNullSafe: a feed without batch ids reads the column as NULL
            # (the canonical schema carries it), and `== NULL` would silently
            # replay ZERO events — null-safe equality keeps those rows in one
            # NULL-batch group instead
            batch = feed.filter(
                F.col(args.batch_col).eqNullSafe(F.lit(b))
            ).drop(args.batch_col)
            r = pipe.apply_batch(batch, fence_token=f"replay:{b}")
            results.append({"batch": b, "applied": r.stats.applied,
                            "quarantined": r.quarantined,
                            "skipped": r.stats.skipped})
    else:
        r = pipe.apply_batch(feed, fence_token="replay:all")
        results.append({"batch": "all", "applied": r.stats.applied,
                        "quarantined": r.quarantined, "skipped": r.stats.skipped})
    return {"batches": results, "final_rows": pipe.final_state().count()}


def cmd_sync_snapshot(args) -> dict:
    """Sync the tokens table to a complete dump (upserts + derived deletes,
    one fenced batch at max(_lsn)+1 — see CdcPipeline.sync_snapshot)."""
    from pyspark.sql.types import StructType

    from .cdc.apply import CdcPipeline

    spark = _spark("cps-sync-snapshot")
    pipe = CdcPipeline(
        spark,
        target_path=args.target,
        target_schema=StructType.fromDDL(args.schema),
        key_cols=args.keys.split(","),
        quarantine_path=args.quarantine,
        lineage_path=args.lineage,
        num_buckets=args.buckets,
        strategy=args.strategy,
        update_mode=args.update_mode,
    )
    snap = spark.read.parquet(args.snapshot)
    audit = None
    if args.wap_max_delete_frac is not None:
        # gated reconciliation: reject the sync when its staged deletes
        # (dump-absence tombstones included) exceed the fraction of the
        # pre-sync live count — the empty/truncated-dump guard
        from pyspark.sql import functions as SF

        from .cdc.apply import staged_changes
        from .lake.merge import HIDDEN_DELETED, read_merged

        frac = args.wap_max_delete_frac

        def audit(s, branch, result):
            fork = branch.fork_version()
            before = branch.count_live(fork)
            if before is None:
                df = read_merged(s, branch, fork)
                if HIDDEN_DELETED in df.columns:
                    df = df.filter(
                        ~SF.coalesce(SF.col(HIDDEN_DELETED), SF.lit(False))
                    )
                before = df.count()
            dels = (
                staged_changes(s, branch)
                .filter(SF.col("change_type") == "delete")
                .count()
            )
            return before == 0 or dels <= frac * before

    r = pipe.sync_snapshot(
        snap, fence_token=args.fence, null_means=args.null_means,
        audit=audit,
    )
    return {
        "skipped": r.stats.skipped,
        "applied": r.stats.applied,
        "deleted": r.stats.deleted,
        "quarantined": r.quarantined,
        "final_rows": pipe.final_state().count(),
    }


def cmd_stream(args) -> dict:
    from pyspark.sql.types import StructType

    from .cdc.apply import CdcPipeline
    from .streaming.runner import run_stream

    spark = _spark("cps-stream")
    pipe = CdcPipeline(
        spark,
        target_path=args.target,
        target_schema=StructType.fromDDL(args.schema),
        key_cols=args.keys.split(","),
        quarantine_path=args.quarantine,
        lineage_path=args.lineage,
        num_buckets=args.buckets,
        strategy=args.strategy,
        update_mode=args.update_mode,
    )
    audit = None
    if args.wap_max_delete_frac is not None:
        # built-in WAP gate: reject any micro-batch whose staged deletes
        # exceed the fraction of the pre-batch live count — the classic
        # "a bad upstream migration just tombstoned half the table" guard
        from .cdc.apply import staged_changes

        frac = args.wap_max_delete_frac

        def audit(s, branch, result):
            import pyspark.sql.functions as SF

            fork = branch.fork_version()
            before = branch.count_live(fork)
            if before is None:
                # MoR deltas / pre-upgrade manifests: the metadata-only count
                # can't answer. Fall back to the real (bucket-pruned MoR) read
                # at the fork version so the gate the user explicitly enabled
                # still rejects, instead of silently short-circuiting on 0.
                from .lake.merge import HIDDEN_DELETED, read_merged

                df = read_merged(s, branch, fork)
                if HIDDEN_DELETED in df.columns:
                    df = df.filter(
                        ~SF.coalesce(SF.col(HIDDEN_DELETED), SF.lit(False))
                    )
                before = df.count()
            dels = (
                staged_changes(s, branch)
                .filter(SF.col("change_type") == "delete")
                .count()
            )
            return before == 0 or dels <= frac * before

    # schema inference only makes sense for a parquet feed; other formats
    # read under the canonical change-log schema inside run_stream
    schema = (
        spark.read.parquet(args.feed).schema
        if args.feed_format == "parquet"
        else None
    )
    h = run_stream(
        spark, pipe, args.feed, args.checkpoint,
        feed_format=args.feed_format,
        toast_sentinel=args.toast_sentinel,
        max_files_per_trigger=args.max_files_per_trigger, schema=schema,
        audit=audit,
    )
    h.query.awaitTermination()
    return {
        "batches": [
            {"batch_id": b, "applied": r.stats.applied, "skipped": r.stats.skipped}
            for b, r in h.applied
        ],
        "final_rows": pipe.final_state().count(),
    }


def cmd_compact(args) -> dict:
    from .lake import LakeTable
    from .lake.merge import compact, compact_tiered

    spark = _spark("cps-compact")
    if args.mode == "tiered":
        r = compact_tiered(spark, LakeTable(args.table),
                           fanout=args.max_delta_files)
        return {"consolidated_buckets": len(r["consolidated"]),
                "folded_buckets": len(r["folded"])}
    n = compact(spark, LakeTable(args.table), args.max_delta_files)
    return {"compacted_buckets": n}


def cmd_cluster(args) -> dict:
    from .lake import LakeTable
    from .lake.cluster import cluster_by

    spark = _spark("cps-cluster")
    return cluster_by(
        spark,
        LakeTable(args.table),
        [c.strip() for c in args.by.split(",") if c.strip()],
        bits=args.bits,
        files_per_bucket=args.files_per_bucket,
    )


def cmd_expire(args) -> dict:
    from .lake import LakeTable

    manifests, files = LakeTable(args.table).expire_snapshots(args.keep_last)
    return {"manifests_removed": manifests, "data_files_removed": files}


def cmd_rollback(args) -> dict:
    from .lake import LakeTable

    m = LakeTable(args.table).rollback(args.to_version)
    return {"version": m.version, "rolled_back_to": args.to_version}


def cmd_stats(args) -> dict:
    from .lake import LakeTable

    return LakeTable(args.table).table_stats(args.version)


def cmd_verify_replica(args) -> dict:
    """Replication checksum: order/layout-insensitive logical digest of the
    replica vs the primary at the replica's applied version."""
    from .lake import LakeTable
    from .lake.replicate import Replica, verify_replica

    spark = _spark("cps-verify-replica")
    primary = LakeTable(args.primary)
    rep = Replica(spark, primary, args.replica)
    return verify_replica(spark, primary, rep)


def cmd_outbox_refresh(args) -> dict:
    """Publish per-key actions for primary versions past the outbox cursor
    (CDF-derived, WAP-compatible — see lake/outbox.py)."""
    from .lake import LakeTable
    from .lake.outbox import CdfOutbox

    spark = _spark("cps-outbox")
    obx = CdfOutbox(spark, LakeTable(args.table), args.outbox)
    published = obx.refresh()
    return {"published_versions": published, "cursor": obx.cursor()}


def cmd_history(args) -> dict:
    """Snapshot log (DESCRIBE HISTORY analogue) — manifest headers only."""
    from .lake import LakeTable

    t = LakeTable(args.table)
    if args.as_of_ts is not None:
        return {"version_as_of": t.version_as_of(args.as_of_ts)}
    return {"history": t.history()[-args.last:]}


def cmd_branch(args) -> dict:
    """Branch lifecycle: create / list / publish / drop (write-audit-publish:
    point any write command at the branch path via `stats`-style tooling,
    audit with `diff`/`count`, then `branch --publish`)."""
    from .lake import LakeTable

    t = LakeTable(args.table)
    if args.create:
        b = t.create_branch(args.create, if_not_exists=args.if_not_exists)
        return {"created": b.branch_name, "fork_version": b.fork_version()}
    if args.publish:
        m = t.publish_branch(args.publish)
        if args.drop_after:
            t.drop_branch(args.publish)
        return {"published": args.publish, "main_version": m.version}
    if args.drop:
        t.drop_branch(args.drop)
        return {"dropped": args.drop}
    return {"branches": t.list_branches()}


def cmd_tag(args) -> dict:
    """Named immutable snapshots (dataset release pins — survive expiry)."""
    from .lake import LakeTable

    t = LakeTable(args.table)
    if args.create:
        v = t.create_tag(args.create, version=args.version)
        return {"created": args.create, "version": v}
    if args.drop:
        t.drop_tag(args.drop)
        return {"dropped": args.drop}
    return {"tags": t.list_tags()}


def cmd_diff(args) -> dict:
    from pyspark.sql import functions as F

    from .lake import LakeTable
    from .lake.diff import snapshot_diff

    spark = _spark("cps-diff")
    t = LakeTable(args.table)
    to_v = args.to_version if args.to_version is not None else t.current_version()
    d = snapshot_diff(spark, t, args.from_version, to_v,
                      include_old=args.pre_images)
    if args.out:
        # args.out is a plain Spark path (same convention as record --out):
        # no scheme prefixing, so URIs and relative paths both work
        counts = {
            r["change_type"]: r["n"]
            for r in d.groupBy("change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        if args.out_format == "debezium":
            from .cdc.feed import to_debezium

            to_debezium(d).write.mode("overwrite").text(args.out)
        else:
            d.write.mode("overwrite").parquet(args.out)
    else:
        counts = {
            r["change_type"]: r["n"]
            for r in d.groupBy("change_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
    return {"from": args.from_version, "to": to_v, "changes": counts,
            "out": args.out}


def cmd_view_refresh(args) -> dict:
    from .lake import LakeTable
    from .lake.view import IncrementalAggView

    spark = _spark("cps-view-refresh")
    bad = [kv for kv in (args.sum or []) if "=" not in kv]
    if bad:
        raise SystemExit(
            f"--sum expects out_col=base_col specs, got: {' '.join(bad)}"
        )
    sums = dict(kv.split("=", 1) for kv in (args.sum or []))
    view = IncrementalAggView(
        spark, LakeTable(args.base), args.view,
        group_cols=args.group.split(","), sum_cols=sums,
        num_buckets=args.buckets,
    )
    if args.full:
        view.full_refresh()
        applied = view.applied_version()
        return {"mode": "full", "cursor": applied}
    n = view.refresh(coalesce=args.coalesce)
    return {"mode": "coalesced" if args.coalesce else "incremental",
            "versions_applied": n, "cursor": view.applied_version()}


def cmd_lookup(args) -> dict:
    from pyspark.sql import functions as F

    from .lake import LakeTable
    from .lake.merge import ALL_HIDDEN, HIDDEN_DELETED, read_for_keys

    spark = _spark("cps-lookup")
    t = LakeTable(args.table)
    got = read_for_keys(spark, t, args.key, version=args.version)
    if HIDDEN_DELETED in got.columns:
        got = got.filter(~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)))
    # drop the hidden engine columns only (partial-mode tables also carry
    # _colv/_dlsn); a user column that happens to start with "_" stays
    got = got.drop(*ALL_HIDDEN)
    rows = [r.asDict() for r in got.collect()]
    hits = {str(r[t.manifest().key_cols[0]]) for r in rows}
    return {"requested": len(args.key), "found": len(rows),
            "missing": sorted(set(args.key) - hits), "rows": rows}


def cmd_scan(args) -> dict:
    """Pruned predicate read: each --where is col:lo[:hi] (hi defaults to lo);
    numeric bounds are auto-coerced when the column is numeric. --dry-run
    reports the manifest pruning decision without reading any data."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    from .lake import LakeTable
    from .lake.merge import ALL_HIDDEN, HIDDEN_DELETED

    spark = _spark("cps-scan")
    t = LakeTable(args.table)
    m = t.manifest(args.version)
    types = {f.name: f.dataType for f in m.schema.fields}
    preds = []
    for w in args.where:
        parts = w.split(":")
        if len(parts) == 2:
            col, lo, hi = parts[0], parts[1], parts[1]
        elif len(parts) == 3:
            col, lo, hi = parts
        else:
            raise SystemExit(f"--where must be col:lo[:hi], got {w!r}")
        if col not in types:
            raise SystemExit(f"unknown column {col!r}")
        if isinstance(types[col], NumericType):
            # int first: float round-trip silently loses precision past 2^53
            try:
                lo, hi = int(lo), int(hi)
            except ValueError:
                lo, hi = float(lo), float(hi)
        preds.append((col, lo, hi))
    kept = t.files_where_all(m, preds)
    out = {
        "version": m.version,
        "predicates": [list(p) for p in preds],
        "files_total": len(m.files),
        "files_kept": len(kept),
        "files_pruned": len(m.files) - len(kept),
        "rows_in_kept_files": sum(f.rows for f in kept),
    }
    if args.dry_run:
        return out
    # pin the read to the SAME snapshot the pruning stats were computed on —
    # a concurrent commit must not make the report and the rows diverge
    df = t.read_where_all(spark, preds, version=m.version)
    if HIDDEN_DELETED in df.columns:
        df = df.filter(~F.coalesce(F.col(HIDDEN_DELETED), F.lit(False)))
    df = df.drop(*ALL_HIDDEN)
    rows = [r.asDict() for r in df.limit(args.limit).collect()]
    out["returned"] = len(rows)
    out["rows"] = rows
    return out


def cmd_index_refresh(args) -> dict:
    from .lake import LakeTable
    from .lake.index import TokenIndex

    spark = _spark("cps-index-refresh")
    ix = TokenIndex(
        spark, LakeTable(args.base), args.index,
        tokens_col=args.tokens_col, num_shards=args.shards,
    )
    n = ix.refresh()
    return {"versions_applied": n, "cursor": ix.applied_version(),
            "num_shards": ix.num_shards}


def cmd_search(args) -> dict:
    from .lake import LakeTable
    from .lake.index import TokenIndex

    spark = _spark("cps-search")
    ix = TokenIndex(spark, LakeTable(args.base), args.index,
                    tokens_col=args.tokens_col)
    hits = ix.search([int(t) for t in args.token], mode=args.mode)
    rows = sorted(
        ((r["doc_id"], r["n_matched"]) for r in hits.collect()),
        key=lambda x: (-x[1], x[0]),
    )
    return {"mode": args.mode, "probes": len(set(args.token)),
            "hits": len(rows), "docs": rows[: args.limit]}


def cmd_count(args) -> dict:
    from .lake import LakeTable

    t = LakeTable(args.table)
    n = t.count_live(args.version)
    return {"table": args.table, "version": args.version,
            "live_rows": n,
            "metadata_only": n is not None,
            "note": None if n is not None else
            "MoR deltas or pre-upgrade manifest: run compact, or count via a read"}


def cmd_drop_column(args) -> dict:
    from .lake import LakeTable

    m = LakeTable(args.table).drop_column(args.column)
    return {"dropped": args.column, "version": m.version}


def cmd_rename_column(args) -> dict:
    from .lake import LakeTable

    m = LakeTable(args.table).rename_column(args.old, args.new)
    return {"renamed": [args.old, args.new], "version": m.version}


def cmd_replicate(args) -> dict:
    from .lake import LakeTable
    from .lake.replicate import Replica

    spark = _spark("cps-replicate")
    rep = Replica(spark, LakeTable(args.primary), args.replica,
                  num_buckets=args.buckets)
    n = rep.refresh(coalesce=args.coalesce)
    return {"mode": "coalesced" if args.coalesce else "stepwise",
            "versions_applied": n, "cursor": rep.applied_version()}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="concepts_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("ingest", help="gz NDJSON authority dump → authoritative table")
    g.add_argument("--input", nargs="+", required=True)
    g.add_argument("--table", required=True)
    g.add_argument("--authority", default="lc-subjects")
    g.add_argument("--buckets", type=int, default=16)
    g.add_argument("--fence", default=None)
    g.add_argument("--max-line-bytes", type=int, default=128 * 1024)
    g.add_argument("--on-overflow", default="error", choices=["error", "drop"])
    g.set_defaults(fn=cmd_ingest)

    g = sub.add_parser("aggregate", help="works JSON → catalogue concepts (set-union accumulate)")
    g.add_argument("--input", nargs="+", required=True)
    g.add_argument("--json-col", default="doc")
    g.add_argument("--key-col", default="work_id")
    g.add_argument("--table", required=True)
    g.add_argument("--buckets", type=int, default=16)
    g.add_argument("--fence", default=None)
    g.set_defaults(fn=cmd_aggregate)

    g = sub.add_parser("record", help="catalogue ⋈ authoritative → final concepts parquet")
    g.add_argument("--catalogue", required=True)
    g.add_argument("--authoritative", required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--docs", action="store_true",
                   help="emit nested {query,display} JSON documents")
    g.set_defaults(fn=cmd_record)

    for name, fn in (("replay", cmd_replay), ("stream", cmd_stream)):
        g = sub.add_parser(name, help=f"{name} a CDC feed into the tokens table")
        g.add_argument("--feed", required=True)
        g.add_argument("--target", required=True)
        g.add_argument("--schema", default=TOKENS_SCHEMA_DDL)
        g.add_argument("--keys", default="doc_id")
        g.add_argument("--quarantine", default=None)
        g.add_argument("--lineage", default=None)
        g.add_argument("--buckets", type=int, default=16)
        g.add_argument("--strategy", default="cow", choices=["cow", "mor"])
        g.add_argument("--update-mode", default="replace",
                       choices=["replace", "partial"],
                       help="'partial' = column-level CDC: sparse after-"
                            "images fold through per-column LWW registers")
        g.add_argument("--toast-sentinel", default=None,
                       help="debezium format only: map this sentinel string "
                            "(unchanged TOASTed columns) to no-statement "
                            "NULLs — pair with --update-mode partial")
        g.add_argument("--feed-format", default="parquet",
                       choices=["parquet", "jsonl", "csv", "debezium"])
        if name == "replay":
            g.add_argument("--changes", default=None)
            g.add_argument("--batch-col", default="batch_id")
        else:
            g.add_argument("--checkpoint", required=True)
            g.add_argument("--max-files-per-trigger", type=int, default=4)
            g.add_argument("--wap-max-delete-frac", type=float, default=None,
                           help="gate every micro-batch through write-audit-"
                                "publish; reject if staged deletes exceed this "
                                "fraction of the pre-batch live count")
        g.set_defaults(fn=fn)

    g = sub.add_parser(
        "sync-snapshot",
        help="sync the table to a COMPLETE dump (upserts + derived deletes, "
             "one fenced batch)",
    )
    g.add_argument("--snapshot", required=True, help="parquet dir of the dump")
    g.add_argument("--target", required=True)
    g.add_argument("--schema", default=TOKENS_SCHEMA_DDL)
    g.add_argument("--keys", default="doc_id")
    g.add_argument("--quarantine", default=None)
    g.add_argument("--lineage", default=None)
    g.add_argument("--buckets", type=int, default=16)
    g.add_argument("--strategy", default="cow", choices=["cow", "mor"])
    g.add_argument("--update-mode", default="replace",
                   choices=["replace", "partial"])
    g.add_argument("--null-means", default="clear", choices=["clear", "keep"])
    g.add_argument("--wap-max-delete-frac", type=float, default=None,
                   help="stage-audit-publish the sync and reject it when "
                        "staged deletes exceed this fraction of the pre-sync "
                        "live count (empty/truncated-dump guard)")
    g.add_argument("--fence", required=True)
    g.set_defaults(fn=cmd_sync_snapshot)

    g = sub.add_parser("compact", help="fold merge-on-read deltas back to base files")
    g.add_argument("--table", required=True)
    g.add_argument("--max-delta-files", type=int, default=4)
    g.add_argument("--mode", choices=["full", "tiered"], default="full",
                   help="full = fold past-threshold buckets to base; tiered = "
                        "size-tiered delta consolidation with ratio-gated folds")
    g.set_defaults(fn=cmd_compact)

    g = sub.add_parser("cluster",
                       help="rewrite the table z-ordered on payload columns "
                            "(OPTIMIZE ZORDER BY) for multi-dim data skipping")
    g.add_argument("--table", required=True)
    g.add_argument("--by", required=True,
                   help="comma-separated columns to cluster on")
    g.add_argument("--bits", type=int, default=8,
                   help="bits per dimension (2^bits quantile cells)")
    g.add_argument("--files-per-bucket", type=int, default=4)
    g.set_defaults(fn=cmd_cluster)

    g = sub.add_parser("expire", help="expire old snapshots + vacuum orphan files")
    g.add_argument("--table", required=True)
    g.add_argument("--keep-last", type=int, default=2)
    g.set_defaults(fn=cmd_expire)

    g = sub.add_parser("rollback", help="roll the table back to an earlier snapshot")
    g.add_argument("--table", required=True)
    g.add_argument("--to-version", type=int, required=True)
    g.set_defaults(fn=cmd_rollback)

    g = sub.add_parser("stats", help="operational snapshot summary (files/rows/deltas)")
    g.add_argument("--table", required=True)
    g.add_argument("--version", type=int, default=None)
    g.set_defaults(fn=cmd_stats)

    g = sub.add_parser("verify-replica", help="replication checksum (logical digest)")
    g.add_argument("--primary", required=True)
    g.add_argument("--replica", required=True)
    g.set_defaults(fn=cmd_verify_replica)

    g = sub.add_parser("outbox-refresh",
                       help="publish CDF-derived change actions past the cursor")
    g.add_argument("--table", required=True)
    g.add_argument("--outbox", required=True)
    g.set_defaults(fn=cmd_outbox_refresh)

    g = sub.add_parser("history", help="snapshot log / timestamp time travel")
    g.add_argument("--table", required=True)
    g.add_argument("--last", type=int, default=20)
    g.add_argument("--as-of-ts", type=int, default=None,
                   help="resolve the snapshot as of this epoch-millis timestamp")
    g.set_defaults(fn=cmd_history)

    g = sub.add_parser("branch", help="branch lifecycle (write-audit-publish)")
    g.add_argument("--table", required=True)
    g.add_argument("--create", metavar="NAME")
    g.add_argument("--if-not-exists", action="store_true")
    g.add_argument("--publish", metavar="NAME",
                   help="fast-forward main to the branch head (fails if main moved)")
    g.add_argument("--drop-after", action="store_true",
                   help="drop the branch after a successful publish")
    g.add_argument("--drop", metavar="NAME")
    g.set_defaults(fn=cmd_branch)

    g = sub.add_parser("tag", help="named immutable snapshots (release pins)")
    g.add_argument("--table", required=True)
    g.add_argument("--create", metavar="NAME")
    g.add_argument("--version", type=int, default=None,
                   help="snapshot to pin (default: current)")
    g.add_argument("--drop", metavar="NAME")
    g.set_defaults(fn=cmd_tag)

    g = sub.add_parser(
        "diff",
        help="CDF snapshot diff: classified changed rows between two versions",
    )
    g.add_argument("--table", required=True)
    g.add_argument("--from-version", type=int, required=True)
    g.add_argument("--to-version", type=int, default=None)
    g.add_argument("--pre-images", action="store_true",
                   help="include old_* pre-image columns")
    g.add_argument("--out", default=None,
                   help="write the diff rows as parquet here")
    g.add_argument("--out-format", default="parquet",
                   choices=["parquet", "debezium"],
                   help="export format for --out (debezium: JSON envelopes "
                        "any log-CDC consumer can tail)")
    g.set_defaults(fn=cmd_diff)

    g = sub.add_parser(
        "view-refresh",
        help="fold unapplied base commits into an incremental aggregate view",
    )
    g.add_argument("--base", required=True)
    g.add_argument("--view", required=True)
    g.add_argument("--group", required=True, help="comma-separated group columns")
    g.add_argument("--sum", nargs="*", default=None,
                   help="out_col=base_col sum specs")
    g.add_argument("--buckets", type=int, default=4)
    g.add_argument("--full", action="store_true",
                   help="one-shot bootstrap recompute instead of walking history")
    g.add_argument("--coalesce", action="store_true",
                   help="fold the whole unapplied span as ONE telescoped diff")
    g.set_defaults(fn=cmd_view_refresh)

    g = sub.add_parser(
        "lookup",
        help="batched point lookup by key (the reference's _mget): bucket + "
             "key-stat pruned, tombstones filtered",
    )
    g.add_argument("--table", required=True)
    g.add_argument("--key", nargs="+", required=True)
    g.add_argument("--version", type=int, default=None)
    g.set_defaults(fn=cmd_lookup)

    g = sub.add_parser(
        "scan",
        help="pruned predicate read: AND of --where col:lo[:hi] ranges, "
             "answered with multi-column manifest file skipping "
             "(stats + z-order); --dry-run reports the pruning decision only",
    )
    g.add_argument("--table", required=True)
    g.add_argument("--where", nargs="+", required=True,
                   help="col:lo[:hi] (repeatable; AND semantics)")
    g.add_argument("--version", type=int, default=None)
    g.add_argument("--limit", type=int, default=100)
    g.add_argument("--dry-run", action="store_true")
    g.set_defaults(fn=cmd_scan)

    g = sub.add_parser(
        "index-refresh",
        help="fold unapplied base commits into the inverted token index",
    )
    g.add_argument("--base", required=True)
    g.add_argument("--index", required=True)
    g.add_argument("--tokens-col", default="tokens")
    g.add_argument("--shards", type=int, default=16,
                   help="posting shards (stored at create; reopen adopts)")
    g.set_defaults(fn=cmd_index_refresh)

    g = sub.add_parser(
        "replicate",
        help="converge a replica table to a primary via CDF diffs",
    )
    g.add_argument("--primary", required=True)
    g.add_argument("--replica", required=True)
    g.add_argument("--buckets", type=int, default=None,
                   help="replica bucket count (default: primary's)")
    g.add_argument("--coalesce", action="store_true",
                   help="ship the whole lag as ONE telescoped span diff")
    g.set_defaults(fn=cmd_replicate)

    g = sub.add_parser(
        "search",
        help="index-served terms query: docs containing ANY/ALL probe tokens "
             "(posting point reads, no base scan)",
    )
    g.add_argument("--base", required=True)
    g.add_argument("--index", required=True)
    g.add_argument("--token", nargs="+", required=True)
    g.add_argument("--mode", choices=["any", "all"], default="any")
    g.add_argument("--tokens-col", default="tokens")
    g.add_argument("--limit", type=int, default=50)
    g.set_defaults(fn=cmd_search)

    g = sub.add_parser(
        "drop-column",
        help="DROP COLUMN (metadata-only; name tombstoned against re-adds)",
    )
    g.add_argument("--table", required=True)
    g.add_argument("--column", required=True)
    g.set_defaults(fn=cmd_drop_column)

    g = sub.add_parser(
        "rename-column",
        help="RENAME COLUMN (metadata-only; old files remap on read)",
    )
    g.add_argument("--table", required=True)
    g.add_argument("--old", required=True)
    g.add_argument("--new", required=True)
    g.set_defaults(fn=cmd_rename_column)

    g = sub.add_parser(
        "count",
        help="metadata-only live COUNT(*) from manifest stats (no Spark job)",
    )
    g.add_argument("--table", required=True)
    g.add_argument("--version", type=int, default=None)
    g.set_defaults(fn=cmd_count)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    out = args.fn(args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
