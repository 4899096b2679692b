"""spark-submit entry point for the CDC replay job.

The production surface the north rule specifies: the job ships as

    spark-submit --master <cluster> --py-files etl_spark.zip \
        -m etl_spark.cli  (or a driver script calling main())  \
        --changelog /path/to/wal --table /path/to/table [...]

On a real cluster the master/executor topology comes from spark-submit
(``--num-executors`` etc.); the session builder only fills in local
defaults when no master is configured. Also runnable as
``python -m etl_spark.cli ...`` for local smoke runs.

Subcommands:
    replay     batch-replay a changelog directory into the lake table
    stream     tail the changelog dir via Structured Streaming (availableNow)
    generate   write a deterministic synthetic changelog (testing/benching)
    compact    fold merge-on-read delta files into per-bucket bases
    expire     expire old snapshots + vacuum orphaned data directories
    state      print row count + a sample of the resolved table state
    metrics    print per-batch ingest metrics
    publish    publish a staged write-audit-publish window
    discard    discard a staged write-audit-publish window (rollback)
    audit      check a staged window against row-delta/schema bounds (rc = verdict)
    inspect    per-snapshot / per-file metadata tables as JSON lines
    tag        named snapshot refs: pin/list/drop versions against retention
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="etl_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--table", required=True, help="lake table root directory")
        sp.add_argument("--buckets", type=int, default=16)
        sp.add_argument(
            "--mode", choices=["cow", "mor"], default=None,
            help="table mode; default mor when creating a new table. For "
            "an existing table the RECORDED mode wins and a conflicting "
            "explicit value is refused (never silently ignored)",
        )
        sp.add_argument("--compact-threshold", type=int, default=8)
        sp.add_argument(
            "--tombstone-watermark",
            help="ingest disorder bound (no future event may carry a "
            "commit strictly below it): stored tombstones older than it "
            "are aged out — at cow rewrites and at (auto-)compaction; "
            "unset = tombstones retained indefinitely",
        )
        sp.add_argument(
            "--compact-delta-fraction", type=float,
            help="bytes-aware auto-compaction: only fold buckets whose "
            "delta bytes reach this fraction of their base (LSM "
            "amortization — the production setting for long-running "
            "ingests); unset = file-count eligibility only",
        )
        sp.add_argument(
            "--no-compact-sort", dest="compact_sort", action="store_false",
            help="skip the per-file key sort at compaction (sorted files "
            "give parquet row groups tight key min/max ranges, so point "
            "lookups skip row groups — disable only if compaction CPU "
            "is the bottleneck)",
        )
        sp.add_argument(
            "--expire-every", type=int,
            help="auto-retention: every N applied batches, expire old "
            "snapshots down to --expire-keep-last (+ manifest-shard GC "
            "+ orphan-data vacuum) at a pipeline-drained point; unset = "
            "manual retention via the 'expire' command only",
        )
        sp.add_argument(
            "--expire-keep-last", type=int, default=5,
            help="snapshots retained by --expire-every (time travel stays "
            "available for these)",
        )

    g = sub.add_parser("generate", help="write a synthetic changelog")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, required=True)
    g.add_argument("--batches", type=int, default=8)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--repos", type=int, default=200)
    g.add_argument("--paths-per-repo", type=int, default=500)
    g.add_argument("--hot-share", type=float, default=0.3)

    r = sub.add_parser("replay", help="batch-replay a changelog")
    r.add_argument("--changelog", required=True, help="parquet changelog path")
    r.add_argument(
        "--classify-status-col",
        help="treat the changelog as a raw status-coded feed: classify this "
        "column to I/U/D ops (reference state-machine semantics) before replay",
    )
    r.add_argument(
        "--schema-ops",
        help="in-flight DDL events (offset, kind, column, detail) as parquet "
        "or JSON lines (.json/.jsonl); kinds: add_column|rename_column|"
        "widen_type|drop_column. Each op applies before the batch whose "
        "offset range covers it, and is offset-fenced exactly like data",
    )
    r.add_argument(
        "--wap-stage", action="store_true",
        help="write-audit-publish: stage this replay's commits invisibly "
        "to published readers ('state --published' keeps serving the "
        "pre-replay state); audit the staged state, then 'publish' or "
        "'discard'. Re-running a crashed staged replay resumes the open "
        "window",
    )
    common(r)

    s = sub.add_parser("stream", help="structured-streaming tail of the changelog dir")
    s.add_argument("--changelog", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument(
        "--wap-stage", action="store_true",
        help="stage the whole backlog drain invisibly to published "
        "readers (audit then publish/discard, exactly like replay "
        "--wap-stage; a re-run resumes the open window)",
    )
    common(s)

    c = sub.add_parser("compact", help="compact merge-on-read deltas")
    c.add_argument(
        "--min-files", type=int, default=2,
        help="fold buckets holding at least this many files (1 = force a "
        "full rewrite pass, e.g. to apply a tombstone watermark to "
        "buckets that never accumulate deltas)",
    )
    c.add_argument(
        "--min-delta-fraction", type=float,
        help="bytes-aware eligibility: only fold buckets whose delta "
        "bytes reach this fraction of their base bytes (LSM "
        "amortization — avoids rewriting a huge base for a few tiny "
        "deltas); unset = file-count eligibility only",
    )
    common(c)

    fl = sub.add_parser(
        "flagship",
        help="the composed sd-delta flagship: config split -> exclusions "
        "-> status classify -> dim enrich -> LWW -> guarded merge",
    )
    fl.add_argument("--changelog", required=True, help="status-coded feed (parquet)")
    fl.add_argument("--config-csv", required=True, help="exclusion config CSV (repo;path, '-' = whole repo)")
    fl.add_argument("--status-dim", help="optional status->status_name CSV (';'-separated)")
    fl.add_argument("--delete-guard", help="optional parquet of keys whose deletes must demote")
    fl.add_argument("--status-col", default="status")
    common(fl)

    e = sub.add_parser("expire", help="expire old snapshots + vacuum orphaned data dirs")
    e.add_argument("--keep-last", type=int, default=5)
    common(e)

    st = sub.add_parser("state", help="resolved table state summary")
    st.add_argument(
        "--published", action="store_true",
        help="resolve the WAP-published snapshot (the audit base while a "
        "staging window is open; identical to the default otherwise)",
    )
    common(st)

    ins = sub.add_parser(
        "inspect",
        help="metadata inspect tables as JSON lines: per-snapshot history "
        "(default) or per-file entries (--files) — Iceberg's "
        "snapshots/files inspect-table analog, zero data-file reads",
    )
    ins.add_argument(
        "--files", action="store_true",
        help="per-file entries of the current snapshot (bucket, kind, "
        "bytes, rows, min/max stats) instead of per-snapshot history",
    )
    common(ins)

    au = sub.add_parser(
        "audit",
        help="audit an open WAP window (staged state vs published base); "
        "exit code 0 iff every enabled check passes, so "
        "'replay --wap-stage && audit ... && publish || discard' is a "
        "complete gated pipeline",
    )
    au.add_argument(
        "--max-row-growth", type=float,
        help="fail if live rows grew by more than this fraction of the base",
    )
    au.add_argument(
        "--max-row-shrink", type=float,
        help="fail if live rows shrank by more than this fraction of the base",
    )
    au.add_argument(
        "--no-schema-change", action="store_true",
        help="fail if the window changed the schema version",
    )
    au.add_argument(
        "--no-count", action="store_true",
        help="metadata-only audit: skip the two state reads (row-count "
        "checks are then unavailable)",
    )
    common(au)

    tg = sub.add_parser(
        "tag",
        help="named snapshot refs: pin a version against retention "
        "(no flags = list tags)",
    )
    tg.add_argument("--name", help="tag to create (pins --version or the current version)")
    tg.add_argument("--version", type=int, help="version to pin (default: current)")
    tg.add_argument("--drop", metavar="NAME", help="drop this tag instead")
    common(tg)

    pub = sub.add_parser(
        "publish", help="publish the staged WAP window (one atomic flag-clearing commit)"
    )
    common(pub)

    dis = sub.add_parser(
        "discard", help="discard the staged WAP window (metadata-only rollback to the audit base)"
    )
    common(dis)

    lk = sub.add_parser(
        "lookup", help="point lookup of one key's current row (plans a single bucket)"
    )
    def _key_eq(s: str) -> tuple[str, str]:
        if "=" not in s:
            raise argparse.ArgumentTypeError(
                f"--key expects COL=VALUE, got {s!r}"
            )
        col, val = s.split("=", 1)
        return col, val

    lk.add_argument(
        "--key", action="append", required=True, metavar="COL=VALUE",
        type=_key_eq,
        help="one per key column, e.g. --key repo=org/r1 --key path=src/a.go",
    )
    common(lk)

    ch = sub.add_parser(
        "chain", help="incremental sync: tail --src-table's change feed into --table"
    )
    ch.add_argument("--src-table", required=True, help="upstream lake table root")
    common(ch)

    rb = sub.add_parser(
        "rebucket",
        help="evolve the bucket layout (one atomic O(table) rewrite; "
        "schedule like a major compaction)",
    )
    rb.add_argument("--new-buckets", type=int, required=True)
    common(rb)

    m = sub.add_parser("metrics", help="per-batch ingest metrics")
    common(m)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from etl_spark.session import build_session

    spark = build_session(f"etl-spark-{args.cmd}")

    if args.cmd == "generate":
        from etl_spark.cdc.changelog import generate_changelog

        generate_changelog(
            spark,
            args.events,
            seed=args.seed,
            n_repos=args.repos,
            paths_per_repo=args.paths_per_repo,
            hot_share=args.hot_share,
            num_batches=args.batches,
        ).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "events": args.events}))
        return 0

    from etl_spark.cdc.replay import ReplayEngine

    if args.cmd == "flagship":
        from etl_spark.plans.sd_delta_flagship import run_sd_delta_flagship
        from etl_spark.sources.csv import read_config_csv

        feed = spark.read.parquet(args.changelog)
        status_dim = (
            read_config_csv(spark, args.status_dim) if args.status_dim else None
        )
        guard = (
            spark.read.parquet(args.delete_guard) if args.delete_guard else None
        )
        engine, results = run_sd_delta_flagship(
            spark, args.table, feed, args.config_csv,
            status_dim=status_dim, delete_guard=guard,
            status_col=args.status_col, mode=args.mode or "mor",
            num_buckets=args.buckets,
            compact_threshold=args.compact_threshold,
            tombstone_commit_watermark=args.tombstone_watermark,
            compact_delta_fraction=args.compact_delta_fraction,
            compact_sort=args.compact_sort,
            expire_every=args.expire_every,
            expire_keep_last=args.expire_keep_last,
        )
        print(json.dumps({
            "applied": [r["batch_id"] for r in results if not r.get("skipped")],
            "skipped": [r["batch_id"] for r in results if r.get("skipped")],
            "rows": engine.read_state().count(),
            "fence_offset": engine.fence_offset(),
        }))
        return 0

    from etl_spark.table.manifest import ManifestTable

    engine_kwargs = dict(
        num_buckets=args.buckets,
        compact_threshold=args.compact_threshold,
        tombstone_commit_watermark=args.tombstone_watermark,
        compact_delta_fraction=args.compact_delta_fraction,
        compact_sort=args.compact_sort,
        expire_every=args.expire_every,
        expire_keep_last=args.expire_keep_last,
    )
    attach_cmds = (
        "metrics", "state", "lookup", "expire", "compact", "rebucket",
        "publish", "discard", "inspect", "audit", "tag",
    )
    # chain's downstream may not exist yet (the bootstrap sync creates
    # it) — attach only when it does, so an existing table still opens
    # under its recorded mode
    if args.cmd in attach_cmds or (
        args.cmd == "chain" and ManifestTable.exists(args.table)
    ):
        # inspection/maintenance: the table must already EXIST and opens
        # under its RECORDED mode and key columns. Constructing here
        # would silently CREATE an empty table at a typo'd --table path
        # (state would print rows: 0 instead of erroring). An explicit
        # --mode is a hint attach REFUSES on conflict — never silently
        # drops — and honors for legacy tables without a recorded mode.
        engine = ReplayEngine.attach(
            spark, args.table, mode=args.mode, **engine_kwargs
        )
    else:
        engine = ReplayEngine(
            spark, args.table, mode=args.mode or "mor", **engine_kwargs
        )
    if args.cmd == "replay":
        log = spark.read.parquet(args.changelog)
        if getattr(args, "wap_stage", False) and not engine.staged():
            # idempotent entry: a crashed staged replay re-runs with the
            # window still open and resumes into it
            engine.stage_begin()
        classify = (
            {"status_col": args.classify_status_col}
            if getattr(args, "classify_status_col", None)
            else None
        )
        schema_ops = None
        if getattr(args, "schema_ops", None):
            from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA

            reader = spark.read.schema(SCHEMA_EVOLUTION_SCHEMA)
            schema_ops = (
                reader.json(args.schema_ops)
                if args.schema_ops.endswith((".json", ".jsonl"))
                else reader.parquet(args.schema_ops)
            )
        results = engine.replay(log, classify=classify, schema_ops=schema_ops)
        print(json.dumps({"applied": [r["batch_id"] for r in results if not r.get("skipped")],
                          "skipped": [r["batch_id"] for r in results if r.get("skipped")],
                          "schema_ops": sum(r.get("schema_ops", 0) for r in results),
                          "fence_offset": engine.fence_offset()}))
    elif args.cmd == "stream":
        from etl_spark.streaming import stream_replay

        if getattr(args, "wap_stage", False) and not engine.staged():
            engine.stage_begin()
        stream_replay(
            spark, args.changelog, args.table, args.checkpoint,
            num_buckets=args.buckets, mode=args.mode or "mor",
            compact_threshold=args.compact_threshold,
            tombstone_commit_watermark=args.tombstone_watermark,
            compact_delta_fraction=args.compact_delta_fraction,
            compact_sort=args.compact_sort,
            expire_every=args.expire_every,
            expire_keep_last=args.expire_keep_last,
        )
        print(json.dumps({"fence_offset": engine.fence_offset(),
                          "applied_batches": engine.applied_batches()}))
    elif args.cmd == "compact":
        print(json.dumps({"compacted_buckets": engine.compact(
            min_files=args.min_files,
            tombstone_commit_watermark=args.tombstone_watermark,
            min_delta_fraction=args.min_delta_fraction)}))
    elif args.cmd == "rebucket":
        engine.rebucket(args.new_buckets)
        d = engine.describe()  # metadata-only: no second O(table) scan
        print(json.dumps({
            "num_buckets": d["num_buckets"],
            "rows_in_files": d["rows_in_files"],
            "bytes": d["bytes"],
        }))
    elif args.cmd == "expire":
        print(json.dumps(engine.table.expire_snapshots(keep_last=args.keep_last)))
    elif args.cmd == "state":
        state = engine.read_state(published=getattr(args, "published", False))
        print(json.dumps({
            "rows": state.count(),
            "columns": state.columns,
            "table": engine.describe(),  # metadata-only summary
        }))
    elif args.cmd == "inspect":
        df = (
            engine.table.files_df() if args.files else engine.table.snapshots_df()
        )
        # metadata-bounded collect: O(retained snapshots) or O(files)
        for row in df.collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "tag":
        # refuse ambiguous combinations instead of silently partial-
        # executing: '--drop X --name Y' would drop without creating,
        # '--version N' alone would print the list while the operator
        # believes N is pinned — both exit-0 traps
        if args.drop and (args.name or args.version is not None):
            raise SystemExit("tag: --drop cannot be combined with --name/--version")
        if args.version is not None and not args.name:
            raise SystemExit("tag: --version requires --name (nothing was pinned)")
        if args.drop:
            engine.table.drop_tag(args.drop)
        elif args.name:
            engine.table.tag(args.name, args.version)
        print(json.dumps({"tags": engine.table.tags()}))
    elif args.cmd == "audit":
        if args.no_count and (
            args.max_row_growth is not None or args.max_row_shrink is not None
        ):
            raise SystemExit(
                "audit: --no-count cannot be combined with row bounds "
                "(the bound would pass vacuously)"
            )
        verdict = engine.audit_staged(
            max_row_growth=args.max_row_growth,
            max_row_shrink=args.max_row_shrink,
            allow_schema_change=not args.no_schema_change,
            count_rows=not args.no_count,
        )
        print(json.dumps(verdict))
        return 0 if verdict["ok"] else 1
    elif args.cmd == "publish":
        print(json.dumps({"published_version": engine.publish_staged()}))
    elif args.cmd == "discard":
        print(json.dumps({"published_version": engine.discard_staged()}))
    elif args.cmd == "lookup":
        kv = dict(args.key)
        rows = engine.lookup(**kv).collect()
        print(json.dumps({"found": len(rows), "rows": [r.asDict() for r in rows]},
                         default=str))
    elif args.cmd == "chain":
        from etl_spark.cdc.chain import propagate_changes

        # the upstream table opens under its own RECORDED mode (the
        # --mode flag describes the downstream table being written)
        src = ReplayEngine.attach(spark, args.src_table, num_buckets=args.buckets)
        print(json.dumps(propagate_changes(src, engine)))
    elif args.cmd == "metrics":
        for row in engine.metrics().orderBy("batch_id").collect():
            print(json.dumps(row.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
