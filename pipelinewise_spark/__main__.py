"""CLI — `python -m pipelinewise_spark <command>`.

The reference's operational surface (cli/__init__.py commands) re-expressed
as engine verbs:

    run          run every stream of a YAML pipeline (sources = parquet dirs)
    profile      per-column statistics of a parquet table
    state        print the pipeline's bookmark state
    discover     emit a Singer-style catalog (streams + JSON Schemas)
    optimize     ManifestTable maintenance: compact / Z-order / Bloom / vacuum
    status       per-stream replication status (reference `status`)
    validate     check a pipeline YAML for spec errors (reference `validate`)
    reset-state  clear bookmarks so streams re-sync (reference `reset_state`)
    init         scaffold a sample pipeline YAML (reference `init`)
    stop         graceful stop of a running pipeline (reference `stop_tap`;
                 stop-token file polled between micro-batches)
    test-connection  probe every stream's source schema (reference
                 `test_tap_connection`)
    encrypt-string   vault-encrypt a YAML secret (reference `encrypt_string`)
    compile      persist the compiled spec + discovered schemas (reference
                 `import`)
    analyze      one-pass table statistics (rows/nulls/NDV/min/max)
                 persisted to the manifest
    export       FastSync-style split-gzip CSV export + manifest

Example:
    python -m pipelinewise_spark run --config pipeline.yml \
        --source-dir /root/testdata/sf0.001
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _cmd_run(args: argparse.Namespace) -> int:
    from pipelinewise_spark.plans.yaml_config import compile_yaml_file
    from pipelinewise_spark.runner import PipelineRunner
    from pipelinewise_spark.session import get_spark

    spec = compile_yaml_file(args.config)
    spark = get_spark(f"pipelinewise-{spec.pipeline_id}")
    spark.sparkContext.setLogLevel("ERROR")
    runner = PipelineRunner(spark, spec)
    sources = {}
    for s in spec.streams:
        # tap_stream_id is "<schema>-<table>"; source file = <table>.parquet
        table = s.tap_stream_id.split("-", 1)[-1]
        p = os.path.join(args.source_dir, f"{table}.parquet")
        if os.path.exists(p):
            sources[s.tap_stream_id] = spark.read.parquet(p)
    results = runner.run(sources)
    for r in results:
        print(
            json.dumps(
                {
                    "stream": r.tap_stream_id,
                    "method": r.method,
                    "rows_in": r.rows_in,
                    "target_rows": r.target_rows,
                    "bookmark": r.bookmark,
                },
                default=str,
            )
        )
    return 0


def _cmd_profile(args: argparse.Namespace) -> int:
    from pipelinewise_spark.operators.profile import profile
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-profile")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.path)
    for row in profile(df).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def _cmd_state(args: argparse.Namespace) -> int:
    from pipelinewise_spark.plans.state import BookmarkStore

    print(json.dumps(BookmarkStore(args.path).as_dict(), indent=2))
    return 0


def _cmd_discover(args: argparse.Namespace) -> int:
    """Singer-style catalog discovery over a directory of parquet tables —
    the `pipelinewise discover_tap` surface: every stream with its JSON
    Schema (via the §1.3 type bridge) and selection metadata."""
    from pipelinewise_spark.schema.jsonschema import struct_to_json_schema
    from pipelinewise_spark.session import get_spark
    from pipelinewise_spark.sources.files import glob_tables

    spark = get_spark("pipelinewise-discover")
    spark.sparkContext.setLogLevel("ERROR")
    streams = []
    for table in glob_tables(args.source_dir):
        df = spark.read.parquet(os.path.join(args.source_dir, f"{table}.parquet"))
        streams.append(
            {
                "tap_stream_id": f"{args.schema_name}-{table}",
                "table_name": table,
                "schema": struct_to_json_schema(df.schema),
                "metadata": [
                    {
                        "breadcrumb": [],
                        "metadata": {
                            "selected": True,
                            "schema-name": args.schema_name,
                            "row-count": None,
                        },
                    }
                ],
            }
        )
    print(json.dumps({"streams": streams}, indent=2, sort_keys=True))
    return 0


def _cmd_clone(args: argparse.Namespace) -> int:
    """Deep-clone a manifest table (point-in-time with --version): byte
    copy + manifest rewrite, no Spark job."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    t = ManifestTable(args.table)
    dest = t.clone_to(args.dest, version=args.version)
    print(
        json.dumps(
            {
                "table": args.table,
                "dest": args.dest,
                "version": args.version,
                "dest_version": dest.current_manifest_name(),
                "files": len(dest._load_manifest()["files"]),
            }
        )
    )
    return 0


def _cmd_optimize(args: argparse.Namespace) -> int:
    """Lakehouse table maintenance in one pass — the OPTIMIZE verb: compact
    fragmented partitions, optionally re-cluster along a Z-order, attach
    Bloom indexes, and vacuum unreferenced files."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.operators.zorder import cluster_by
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-optimize")
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(args.table)
    report: dict = {"table": args.table}
    if args.zorder:
        if getattr(args, "where", None):
            raise SystemExit(
                "--where scopes compaction only; --zorder rewrites the "
                "whole table — pass one or the other"
            )
        cols = [c.strip() for c in args.zorder.split(",") if c.strip()]
        df = cluster_by(t.read(spark), cols, num_files=args.target_files)
        # a fresh CLI handle has partition_by=[] — pass None so overwrite()
        # falls back to the manifest's LIVE partition spec instead of
        # silently rewriting a partitioned table unpartitioned
        t.overwrite(df, t.partition_by or None)
        report["zorder"] = cols
    else:
        scope = None
        if getattr(args, "where", None):
            scope = {}
            for s in args.where:
                col, _, vals = s.partition("=")
                if not _:
                    raise SystemExit(f"--where needs COL=V1[,V2...], got {s!r}")
                scope[col.strip()] = [v.strip() for v in vals.split(",")]
        report["compacted_partitions"] = t.compact(
            spark,
            max_dead_ratio=args.max_dead_ratio,
            target_bytes=(
                args.target_mb * 1024 * 1024 if args.target_mb else None
            ),
            partitions=scope,
        )
    if args.bloom:
        cols = [c.strip() for c in args.bloom.split(",") if c.strip()]
        t.add_bloom_filters(spark, cols)
        report["bloom"] = cols
    if args.retention:
        report["retention_deleted_rows"] = t.apply_retention(spark)
    if args.vacuum:
        t.vacuum(keep_manifests=args.keep_manifests)
        report["vacuumed"] = True
    report["version"] = t.current_manifest_name()
    print(json.dumps(report))
    return 0


def _cmd_status(args: argparse.Namespace) -> int:
    """Per-stream replication status (the reference's `status` table,
    cli/pipelinewise.py): target table existence + live version + bookmark.
    Driver-side metadata only — no SparkSession, no data reads."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.plans.state import BookmarkStore
    from pipelinewise_spark.plans.yaml_config import compile_yaml_file

    spec = compile_yaml_file(args.config)
    state = BookmarkStore(
        spec.state_path or os.path.join(spec.target_path, "_state.json")
    )
    rows = []
    for s in spec.streams:
        table = ManifestTable(
            os.path.join(spec.target_path, s.target_table)
        )
        version = table.current_manifest_name()
        # surface persisted ANALYZE stats + their staleness (metadata
        # read only — status never touches data)
        st = table.table_stats()
        stats_info = None if st is None else {
            "rows": st.get("rows"),
            "analyzed_version": st.get("version"),
            "stale": st.get("version") != version,
        }
        rows.append(
            {
                "stream": s.tap_stream_id,
                "method": s.replication_method.value,
                "table": s.target_table,
                "exists": version is not None,
                "version": version,
                "bookmark": state.get_bookmark(s.tap_stream_id) or None,
                "table_stats": stats_info,
            }
        )
    print(json.dumps({"pipeline": spec.pipeline_id, "streams": rows},
                     indent=2, default=str))
    return 0


def _cmd_validate(args: argparse.Namespace) -> int:
    """Static pipeline validation (the reference's `validate` verb checks
    YAML against JSON Schemas, cli/config.py): compile the YAML and apply
    the spec invariants each replication method requires. Exit 1 on any
    error so CI can gate on it."""
    from pipelinewise_spark.plans.spec import ReplicationMethod
    from pipelinewise_spark.plans.yaml_config import compile_yaml_file

    errors: list[str] = []
    try:
        spec = compile_yaml_file(args.config)
    except Exception as exc:
        print(json.dumps({"valid": False,
                          "errors": [f"yaml: {type(exc).__name__}: {exc}"]}))
        return 1
    if not spec.streams:
        errors.append("pipeline defines no streams")
    seen: set[str] = set()
    for s in spec.streams:
        sid = s.tap_stream_id
        if sid in seen:
            errors.append(f"{sid}: duplicate tap_stream_id")
        seen.add(sid)
        if s.replication_method is ReplicationMethod.INCREMENTAL and not s.replication_key:
            errors.append(f"{sid}: INCREMENTAL requires replication_key")
        if s.replication_method is ReplicationMethod.LOG_BASED and not s.primary_keys:
            errors.append(f"{sid}: LOG_BASED requires primary_keys")
        if s.hard_delete and not s.primary_keys:
            errors.append(f"{sid}: hard_delete requires primary_keys")
        if s.selected_columns is not None:
            missing = [
                pk for pk in s.primary_keys if pk not in s.selected_columns
            ]
            if missing:
                errors.append(
                    f"{sid}: primary keys excluded by column selection: {missing}"
                )
        for t in s.transformations:
            if (
                s.selected_columns is not None
                and t.field_id not in s.selected_columns
            ):
                errors.append(
                    f"{sid}: transformation on unselected column {t.field_id!r}"
                )
    print(json.dumps({"valid": not errors, "errors": errors}, indent=2))
    return 1 if errors else 0


def _cmd_reset_state(args: argparse.Namespace) -> int:
    """Clear bookmarks (one stream via --stream, or all) so the next run
    re-syncs from scratch — the reference's `reset_state`."""
    from pipelinewise_spark.plans.state import BookmarkStore

    cleared = BookmarkStore(args.path).reset(args.stream)
    print(json.dumps({"cleared": cleared}))
    return 0


_SAMPLE_YAML = """\
# pipelinewise_spark sample pipeline (compile_yaml_file shape)
id: sample_to_lake
target_path: ./lake
schemas:
  - source_schema: public
    target_schema: repl
    tables:
      - table_name: orders
        replication_method: INCREMENTAL
        replication_key: o_orderdate
        primary_keys: [o_orderkey]
      - table_name: customer
        replication_method: FULL_TABLE
        primary_keys: [c_custkey]
        transformations:
          - column: c_name
            type: HASH
          - column: c_acctbal
            type: SET-NULL
            when:
              - column: c_mktsegment
                equals: BUILDING
"""


def _cmd_export(args: argparse.Namespace) -> int:
    """FastSync-style export: table → split gzip CSV chunks + manifest
    (reference fastsync/commons/split_gzip.py), written executor-parallel.
    Source may be a plain parquet path or a ManifestTable root (its live
    snapshot is exported, never the files older commits left behind)."""
    from pipelinewise_spark.operators.export import export_split_gzip_csv
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-export")
    spark.sparkContext.setLogLevel("ERROR")
    table = ManifestTable(args.source)
    df = (
        table.read(spark) if table.exists()
        else spark.read.parquet(args.source)
    )
    if args.columns:
        df = df.select(
            *[c.strip() for c in args.columns.split(",") if c.strip()]
        )
    manifest = export_split_gzip_csv(
        df, args.dest, chunk_size_mb=args.chunk_size_mb,
        max_chunks=args.max_chunks,
    )
    print(json.dumps({"dest": args.dest, **manifest}))
    return 0


def _cmd_index(args: argparse.Namespace) -> int:
    """Standing-LSH-index maintenance (functions/dedup.py): the ingest
    daemon's operational verbs — build once, extend per admitted batch,
    compact fragments, vacuum superseded dirs — exposed like
    optimize/analyze so an operator can run index upkeep from cron."""
    import pipelinewise_spark.functions.dedup as D
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-index")
    spark.sparkContext.setLogLevel("ERROR")
    if args.action in ("build", "extend"):
        if not args.source:
            print("index build/extend requires --source", file=sys.stderr)
            return 2
        df = spark.read.parquet(args.source)
        if args.action == "build":
            D.build_lsh_index(df, args.index, args.id_col, args.text_col)
            out = {"action": "build", "index": args.index,
                   "rows": df.count()}
        else:
            D.extend_lsh_index(df, args.index)
            out = {"action": "extend", "index": args.index,
                   "rows": df.count()}
    elif args.action == "compact":
        meta = D.compact_lsh_index(spark, args.index)
        out = {"action": "compact", "index": args.index,
               "compactions": meta["compactions"],
               "shingles_dir": meta["shingles_dir"],
               "bands_dir": meta["bands_dir"]}
    else:  # vacuum
        removed = D.vacuum_lsh_index(args.index)
        out = {"action": "vacuum", "index": args.index, "removed": removed}
    print(json.dumps(out))
    return 0


def _cmd_analyze(args: argparse.Namespace) -> int:
    """ANALYZE TABLE: one-pass table statistics (rows, per-column nulls /
    HLL NDV / min / max) persisted into the ManifestTable manifest —
    planners and `status` tooling then read metadata, not data."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-analyze")
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(args.table)
    cols = (
        [c.strip() for c in args.columns.split(",") if c.strip()]
        if args.columns
        else None
    )
    stats = t.analyze(spark, cols)
    print(json.dumps({"table": args.table, **stats}, indent=2, default=str))
    return 0


def _cmd_delete(args: argparse.Namespace) -> int:
    """DELETE WHERE via deletion vectors: no data file is rewritten —
    dead positions land in a sidecar, reads anti-join them out. Pair
    with `optimize` (compact) to materialize vectors periodically."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-delete")
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(args.table)
    n = t.delete_where(spark, args.where)
    print(json.dumps({
        "table": args.table,
        "deleted_rows": n,
        "version": t.current_manifest_name(),
    }))
    return 0


def _cmd_update(args: argparse.Namespace) -> int:
    """Copy-on-write UPDATE WHERE: rewrites only the data files that
    contain a matching row; everything else carries into the new
    snapshot by manifest reference (Delta UPDATE cost model)."""
    from pipelinewise_spark.operators.manifest_table import (
        ManifestTable,
        commit_with_retries,
    )
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-update")
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(args.table)
    sets = {}
    for s in args.set:
        col, _, expr = s.partition("=")
        if not _:
            raise SystemExit(f"--set needs col=expr, got {s!r}")
        sets[col.strip()] = expr.strip()
    n = commit_with_retries(
        lambda: t.update_where(spark, args.where, sets)
    )
    print(json.dumps({
        "table": args.table,
        "updated_rows": n,
        "version": t.current_manifest_name(),
    }))
    return 0


def _cmd_rollback(args: argparse.Namespace) -> int:
    """Metadata-only RESTORE to a version or an AS-OF timestamp: the new
    snapshot's file set is the target's, nothing moves, bad history
    stays time-travelable until expired."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    t = ManifestTable(args.table)
    if (args.version is None) == (args.as_of is None):
        raise SystemExit("pass exactly one of --version / --as-of")
    v = args.version if args.version is not None \
        else t.version_as_of(args.as_of)
    name = t.rollback_to(int(v))
    print(json.dumps({
        "table": args.table,
        "restored_version": int(v),
        "version": name,
    }))
    return 0


def _cmd_changes(args: argparse.Namespace) -> int:
    """Change data feed between two snapshots (row-level insert/delete
    events stamped with the commit version that produced them). Writes
    the feed to --out as parquet, or prints per-commit counts."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-changes")
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(args.table)
    feed = t.changes_between(spark, args.from_version, args.to_version)
    if args.out:
        feed.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"table": args.table, "out": args.out}))
        return 0
    from pyspark.sql import functions as F

    counts = [
        {
            "commit_version": r["_commit_version"],
            "change_type": r["_change_type"],
            "rows": r["n"],
        }
        for r in feed.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("_commit_version", "_change_type")
        .collect()
    ]
    print(json.dumps({"table": args.table, "changes": counts}))
    return 0


def _cmd_branch(args: argparse.Namespace) -> int:
    """Branch lifecycle for write-audit-publish: `create` cuts a
    metadata-only ref at the current snapshot, `publish` fast-forwards
    main to an audited branch head (refusing if main moved), `drop`
    deletes the ref, `list` prints refs with their heads. Pair with
    `audit` to gate the publish on expectations."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable

    t = ManifestTable(args.table)
    out: dict = {"table": args.table, "action": args.action}
    if args.action == "create":
        t.create_branch(args.name)
        out["branch"] = args.name
        out["head"] = t.branch(args.name).current_manifest_name()
    elif args.action == "publish":
        out["branch"] = args.name
        out["head"] = t.fast_forward(args.name)
        t.drop_branch(args.name)
    elif args.action == "drop":
        t.drop_branch(args.name)
        out["branch"] = args.name
    else:  # list
        out["branches"] = {
            b: t.branch(b).current_manifest_name() for b in t.branches()
        }
    print(json.dumps(out))
    return 0


def _cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc SQL over ManifestTables: each --table ROOT[:NAME] registers
    a temp view served through the MANIFEST (snapshot-consistent,
    deletion-vector-aware — not a raw directory read), then the query
    runs and rows print as JSON lines (--limit caps output)."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-sql")
    spark.sparkContext.setLogLevel("ERROR")
    for spec in args.table:
        root, _, name = spec.partition(":")
        name = name or os.path.basename(root.rstrip("/"))
        ManifestTable(root).read(spark).createOrReplaceTempView(name)
    out = spark.sql(args.query)
    for row in out.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def _cmd_forget(args: argparse.Namespace) -> int:
    """Right-to-be-forgotten: physically erase matching rows from the
    live table AND its snapshot history (delete -> dead-partition
    rewrite -> snapshot expiry -> vacuum). Irreversible by design."""
    from pipelinewise_spark.operators.compliance import forget
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-forget")
    spark.sparkContext.setLogLevel("ERROR")
    out = forget(spark, ManifestTable(args.table), args.where)
    out["table"] = args.table
    print(json.dumps(out))
    return 0 if not out["pinning_branches"] else 1


def _cmd_meta(args: argparse.Namespace) -> int:
    """Print a table's metadata table (snapshots / files / partitions)
    as JSON lines — manifest arithmetic only, no data scanned."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-meta")
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(args.table)
    for row in t.meta(spark, args.kind).collect():
        print(json.dumps(row.asDict()))
    return 0


def _cmd_audit(args: argparse.Namespace) -> int:
    """Run a JSON expectations file against a table (or one of its
    branches) and print the report; exit 1 on any failing rule. Rules
    file: [{"rule": "not_null", "column": "c", "min_ratio": 1.0},
    {"rule": "unique", "columns": ["pk"]}, {"rule": "accepted_values",
    "column": "c", "values": [...]}, {"rule": "in_range", "column":
    "c", "lo": .., "hi": ..}, {"rule": "row_count_at_least", "n": 1},
    {"rule": "references", "column": "fk", "dim": "<parquet path or
    ManifestTable root>", "dim_column": "pk"},
    {"rule": "k_anonymous", "quasi_columns": [...], "k": 5},
    {"rule": "l_diverse", "quasi_columns": [...],
    "sensitive_column": "s", "l": 2}].
    The WAP loop from the CLI: branch create → load → audit --branch →
    branch publish."""
    from pipelinewise_spark.operators import expectations as X
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark

    with open(args.rules) as fh:
        spec = json.load(fh)
    rules = []
    for r in spec:
        kind = r["rule"]
        if kind == "not_null":
            rules.append(X.not_null(r["column"], r.get("min_ratio", 1.0)))
        elif kind == "unique":
            rules.append(
                X.unique(*r["columns"], min_ratio=r.get("min_ratio", 1.0))
            )
        elif kind == "accepted_values":
            rules.append(
                X.accepted_values(
                    r["column"], r["values"], r.get("min_ratio", 1.0)
                )
            )
        elif kind == "in_range":
            rules.append(
                X.in_range(
                    r["column"], r["lo"], r["hi"], r.get("min_ratio", 1.0)
                )
            )
        elif kind == "row_count_at_least":
            rules.append(X.row_count_at_least(r["n"]))
        elif kind == "k_anonymous":
            rules.append(
                X.k_anonymous(
                    r["quasi_columns"], r.get("k", 5),
                    r.get("min_ratio", 1.0),
                )
            )
        elif kind == "l_diverse":
            rules.append(
                X.l_diverse(
                    r["quasi_columns"], r["sensitive_column"],
                    r.get("l", 2), r.get("min_ratio", 1.0),
                )
            )
        elif kind == "references":
            rules.append(("__references__", r))  # resolved once spark is up
        else:
            raise SystemExit(f"unknown rule kind: {kind}")
    spark = get_spark("pipelinewise-audit")
    spark.sparkContext.setLogLevel("ERROR")
    for i, entry in enumerate(rules):
        if isinstance(entry, tuple) and entry[0] == "__references__":
            r = entry[1]
            # dim side: a parquet path or another ManifestTable root
            dim_src = r["dim"]
            dim_t = ManifestTable(dim_src)
            if dim_t.exists():
                dim = dim_t.read(spark)
            else:
                dim = spark.read.parquet(dim_src)
            rules[i] = X.references(
                r["column"], dim, r["dim_column"], r.get("min_ratio", 1.0)
            )
    t = ManifestTable(args.table)
    handle = t.branch(args.branch) if args.branch else t
    report = [
        row.asDict()
        for row in X.expectations_report(handle.read(spark), rules).collect()
    ]
    ok = all(r["passed"] for r in report)
    print(json.dumps({"table": args.table, "passed": ok, "report": report}))
    return 0 if ok else 1


def _cmd_quality(args: argparse.Namespace) -> int:
    """The nightly quality matrix as ONE command (operators/monitors.py:
    quality_report): the CURRENT epoch is the NET rows added since the
    reference snapshot (change-feed inserts minus deletes between
    ``--ref-version`` — default the previous version — and live, so
    copy-on-write rewrites cancel out), the REFERENCE epoch is the
    table AS OF that snapshot; every monitor verb runs (volume,
    cardinality, TVD, KS, Mann-Whitney, Benford, freshness when
    ``--date-col`` is given — restrict with ``--monitors``) and the
    matrix lands as a JSON sidecar beside the table through MetaFS
    (``<root>/_quality/report_v<ref>_v<cur>.json`` — s3://-capable,
    atomic). Prints the matrix; exit 1 when any reported monitor
    drifted, so a cron line IS the nightly alert."""
    from pipelinewise_spark.operators.fsio import MetaFS
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.operators.monitors import quality_report
    from pipelinewise_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("pipelinewise-quality")
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(args.table)
    versions = t.versions()
    if not versions:
        raise SystemExit(
            f"{args.table} has no committed snapshots — nothing to "
            "monitor; load the table first"
        )
    cur_v = versions[-1]
    if args.ref_version is not None:
        ref_v = int(args.ref_version)
        if ref_v >= cur_v:
            raise SystemExit(
                f"--ref-version {ref_v} must be OLDER than the live "
                f"version {cur_v} — an empty/inverted change feed would "
                "report maximal drift, not a real comparison"
            )
    elif len(versions) >= 2:
        ref_v = versions[-2]
    else:
        raise SystemExit(
            "table has a single snapshot — pass --ref-version or commit "
            "a new epoch first"
        )
    ref = t.read(spark, version=ref_v)
    # current epoch = the NET rows added since the reference snapshot:
    # CDF inserts minus deletes as a multiset — a copy-on-write rewrite
    # re-lists surviving rows on both sides of the feed, and the
    # exceptAll cancels them, leaving exactly the arrived rows
    feed = t.changes_between(spark, ref_v, cur_v)
    ins = feed.filter(F.col("_change_type") == "insert").drop(
        "_change_type", "_commit_version"
    )
    dels = feed.filter(F.col("_change_type") == "delete").drop(
        "_change_type", "_commit_version"
    )
    cur = ins.exceptAll(dels)
    rep = quality_report(
        ref,
        cur,
        value_col=args.value_col,
        key_col=args.key_col,
        segment_col=args.segment_col,
        tie_cols=[args.tie_col or args.key_col],
        date_col=args.date_col,
    )
    monitors = (
        None if args.monitors in (None, "all")
        else {m.strip() for m in args.monitors.split(",")}
    )
    if monitors is not None:
        rep = rep.filter(F.col("monitor").isin(sorted(monitors)))
    rows = [r.asDict() for r in rep.collect()]
    payload = {
        "table": args.table,
        "ref_version": ref_v,
        "cur_version": cur_v,
        "drifted": any(r["drifted"] for r in rows),
        "report": rows,
    }
    mfs = MetaFS(args.table)
    import pyarrow.fs as _pafs

    if isinstance(mfs.fs, _pafs.LocalFileSystem):
        mfs.mkdirs("_quality")
    mfs.write_text(
        json.dumps(payload),
        "_quality", f"report_v{ref_v}_v{cur_v}.json",
        atomic=True,
    )
    print(json.dumps(payload))
    return 1 if payload["drifted"] else 0


def _cmd_replay_quarantine(args: argparse.Namespace) -> int:
    """Complete the validation → quarantine → repair loop
    (operators/validation.py:quarantine_split buries the reference's
    validate-and-abort; this verb is the missing way BACK): dead-letter
    rows carry their full payload as ``_dlq_record`` JSON, so after the
    schema or source is fixed, re-parse them under the FIXED JSON
    Schema, re-validate, MERGE the now-valid rows into the target
    ManifestTable by PK, and keep only the still-invalid remainder
    quarantined (published atomically when the quarantine is a
    ManifestTable root; written to ``<dir>_remaining`` for a plain
    parquet dir). Still-invalid rows keep their ORIGINAL ``_dlq_record``
    string — never a re-serialization of this attempt's parse, which
    would null unparseable fields and drop fields outside the attempted
    schema, permanently degrading the payload across repeated cron runs
    before the schema is actually right. Exit 0 when the quarantine
    drains, 1 when rows remain — a cron line IS the repair monitor."""
    from pyspark.sql import functions as F

    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.operators.validation import (
        compile_json_schema,
        validate,
    )
    from pipelinewise_spark.schema.jsonschema import json_schema_to_struct
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-replay-quarantine")
    spark.sparkContext.setLogLevel("ERROR")
    with open(args.schema, encoding="utf-8") as fh:
        schema_doc = json.load(fh)
    qtable = ManifestTable(args.quarantine)
    versioned = qtable.exists()
    dlq = (
        qtable.read(spark) if versioned
        else spark.read.parquet(args.quarantine)
    )
    if "_dlq_record" not in dlq.columns:
        raise SystemExit(
            f"{args.quarantine} has no _dlq_record column — not a "
            "quarantine produced by quarantine_split"
        )
    struct = json_schema_to_struct(schema_doc)
    # carry the pristine payload string alongside the parse: the
    # remainder re-quarantines with the ORIGINAL _dlq_record, not a
    # lossy to_json(from_json(...)) round-trip
    parsed = dlq.select(
        F.col("_dlq_record").alias("__orig"),
        F.from_json("_dlq_record", struct).alias("__r"),
    ).select("__orig", "__r.*")
    checked = validate(parsed, compile_json_schema(schema_doc))
    valid = checked.filter(F.col("is_valid")).drop(
        "violations", "is_valid", "__orig"
    )
    still = checked.filter(~F.col("is_valid")).select(
        F.col("__orig").alias("_dlq_record"), "violations"
    )
    n_valid = valid.count()
    if n_valid:
        ManifestTable(args.table).merge(spark, valid, list(args.pk))
    if versioned:
        qtable.overwrite(still)  # atomic snapshot swap, read-safe
        remaining_path = args.quarantine
    else:
        remaining_path = args.quarantine.rstrip("/") + "_remaining"
        still.write.mode("overwrite").parquet(remaining_path)
    n_still = (
        qtable.read(spark).count() if versioned
        else spark.read.parquet(remaining_path).count()
    )
    print(json.dumps({
        "replayed": n_valid,
        "still_invalid": n_still,
        "table": args.table,
        "remaining": remaining_path,
    }))
    return 0 if n_still == 0 else 1


def _cmd_rank_drift(args: argparse.Namespace) -> int:
    """Drain a StreamingKSMonitor state dir from the command line
    (operators/drift.py): the KS bracket report — and the Mann-Whitney
    bracket from the SAME state with ``--mw`` — printed as JSON. Exit 1
    when any segment pages (the conservative bracket verdict), so a
    cron line over the ingest monitor's sidecar IS the rank-drift
    alert the nightly batch matrix would raise a day later."""
    from pipelinewise_spark.operators.drift import StreamingKSMonitor
    from pipelinewise_spark.session import get_spark

    spark = get_spark("pipelinewise-rank-drift")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        mon = StreamingKSMonitor.from_state(args.state_dir)
    except ValueError as exc:
        raise SystemExit(str(exc)) from exc
    ks = [r.asDict() for r in mon.report(spark).collect()]
    payload = {"state_dir": args.state_dir, "n_buckets": mon.n_buckets,
               "epoch_hwm": mon.state.get("epoch_hwm"), "ks": ks}
    paged = any(r["significant"] for r in ks)
    if args.mw:
        mw = [r.asDict() for r in mon.mw_report(spark).collect()]
        payload["mw"] = mw
        paged = paged or any(r["drifted"] for r in mw)
    print(json.dumps(payload))
    return 1 if paged else 0


def _cmd_capture_status(args: argparse.Namespace) -> int:
    """Inspect a capture (sources/singer.py:capture_status) — the
    pre-load ops check: what streams, how many records, how many
    schema epochs, loadable keys, final state."""
    from pipelinewise_spark.session import get_spark
    from pipelinewise_spark.sources.singer import capture_status

    spark = get_spark("pipelinewise-capture-status")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(capture_status(
        spark, args.capture, primary_key_required=args.pk_required
    )))
    return 0


def _cmd_import_capture(args: argparse.Namespace) -> int:
    """Ingest a captured Singer tap stdout stream (sources/singer.py)
    from the command line — the bulk one-pass load by default, or the
    faithful persist_lines replay (--replay) when flush/state ordering
    matters. Prints per-stream row counts and the final state."""
    from pipelinewise_spark.plans.state import BookmarkStore
    from pipelinewise_spark.session import get_spark
    from pipelinewise_spark.sources.singer import (
        load_capture,
        replay_capture,
    )

    spark = get_spark("pipelinewise-import-capture")
    spark.sparkContext.setLogLevel("ERROR")
    bm = BookmarkStore(args.state) if args.state else None
    pk_required = not args.no_pk_required
    if args.tail:
        from pipelinewise_spark.operators.manifest_table import ManifestTable
        from pipelinewise_spark.streaming.singer import sync_capture_dir

        if not args.checkpoint:
            print("import-capture --tail needs --checkpoint",
                  file=sys.stderr)
            return 2
        st = sync_capture_dir(
            spark, args.capture, args.target_root, args.checkpoint,
            primary_key_required=pk_required, bookmarks=bm,
            merge_strategy=args.merge_strategy,
        )

        def _count(stream: str) -> int:
            # a SCHEMA-only stream (no records yet) has no table
            t = ManifestTable(f"{args.target_root}/{stream}")
            return t.read(spark).count() if t.exists() else 0

        print(json.dumps({
            "streams": {s: _count(s) for s in st.schemas},
            "last_batch": st.last_batch,
            "state": st.bookmark,
        }))
        return 0
    if args.replay:
        res = replay_capture(
            spark, args.capture, args.target_root,
            batch_size_rows=args.batch_size, bookmarks=bm,
            primary_key_required=pk_required,
            merge_strategy=args.merge_strategy,
        )
        print(json.dumps({
            "streams": {
                s: t.read(spark).count() for s, t in res.tables.items()
            },
            "n_flushes": res.n_flushes,
            "state": res.state,
        }))
        return 0
    tables = load_capture(
        spark, args.capture, args.target_root, bookmarks=bm,
        primary_key_required=pk_required,
        merge_strategy=args.merge_strategy,
    )
    print(json.dumps({
        "streams": {s: t.read(spark).count() for s, t in tables.items()}
    }))
    return 0


def _cmd_export_capture(args: argparse.Namespace) -> int:
    """Export a table as a Singer NDJSON capture (sources/singer.py:
    write_capture) — SCHEMA + RECORD lines + optional
    ACTIVATE_VERSION/STATE, byte-reproducible, consumable by any
    Singer target. Refuses lossy exports (NULL/duplicate keys)."""
    from pipelinewise_spark.operators.manifest_table import ManifestTable
    from pipelinewise_spark.session import get_spark
    from pipelinewise_spark.sources.singer import write_capture

    spark = get_spark("pipelinewise-export-capture")
    spark.sparkContext.setLogLevel("ERROR")
    t = ManifestTable(args.table)
    df = t.read(spark) if t.exists() else spark.read.parquet(args.table)
    if args.rotate_records:
        from pipelinewise_spark.sources.singer import write_capture_rotated

        n = write_capture_rotated(
            df, args.out, args.stream, list(args.pk),
            records_per_file=args.rotate_records, version=args.version,
        )
    else:
        n = write_capture(
            df, args.out, args.stream, list(args.pk),
            version=args.version,
        )
    print(json.dumps({"stream": args.stream, "records": n,
                      "capture": args.out}))
    return 0


def _cmd_stop(args: argparse.Namespace) -> int:
    """Graceful stop of a running pipeline — the reference's ``stop_tap``
    (cli/pipelinewise.py:1319, pidfile + SIGTERM). Spark-first: the
    runnable is a StreamingQuery in a driver JVM, so the handshake is a
    stop-token FILE under the pipeline's target path: this verb drops it;
    the running driver polls it between micro-batches
    (streaming/bounded.py:await_with_stop) and stops the query with the
    checkpoint consistent. Works across machines when target_path is
    shared storage (the reference cannot stop remotely)."""
    from pipelinewise_spark.plans.yaml_config import compile_yaml_file
    from pipelinewise_spark.streaming.bounded import StopToken

    target = args.target_path
    if target is None:
        if not args.config:
            print("stop: pass --config or --target-path", file=sys.stderr)
            return 2
        target = compile_yaml_file(args.config).target_path
    token = StopToken(target)
    if args.clear:
        print(json.dumps({"cleared": token.clear(), "token": token.path}))
        return 0
    path = token.request(reason=args.reason)
    print(json.dumps({"requested": True, "token": path}))
    return 0


def _cmd_test_connection(args: argparse.Namespace) -> int:
    """Per-stream source probe — the reference's ``test_tap_connection``
    (cli/pipelinewise.py:781 runs the tap with --discover and checks it
    answers). Here each stream's source parquet must exist and yield a
    readable schema (pyarrow footer read: no Spark session, no data scan);
    exit 1 if any stream's source is unreachable."""
    import pyarrow.parquet as pq

    from pipelinewise_spark.plans.yaml_config import compile_yaml_file

    spec = compile_yaml_file(args.config)
    rows, ok = [], True
    for s in spec.streams:
        table = s.tap_stream_id.split("-", 1)[-1]
        path = os.path.join(args.source_dir, f"{table}.parquet")
        row: dict = {"stream": s.tap_stream_id, "source": path}
        try:
            schema = pq.read_schema(path)
            missing = [
                c for c in (s.selected_columns or []) if c not in schema.names
            ] + [c for c in s.primary_keys if c not in schema.names]
            if s.replication_key and s.replication_key not in schema.names:
                missing.append(s.replication_key)
            if missing:
                row.update(ok=False, error=f"missing columns: {missing}")
                ok = False
            else:
                row.update(ok=True, columns=len(schema.names))
        except Exception as exc:
            row.update(ok=False, error=f"{type(exc).__name__}: {exc}")
            ok = False
        rows.append(row)
    print(json.dumps({"ok": ok, "streams": rows}, indent=2))
    return 0 if ok else 1


def _cmd_encrypt_string(args: argparse.Namespace) -> int:
    """Vault-encrypt a secret for use inside pipeline YAML — the
    reference's ``encrypt_string`` (cli/__init__.py:42, ansible-vault).
    Prints a one-line token; `compile_yaml` decrypts it transparently when
    PWS_VAULT_SECRET(_FILE) is set."""
    from pipelinewise_spark.plans.vault import resolve_secret, vault_encrypt

    secret = resolve_secret(
        open(args.secret, encoding="utf-8").read().strip()
        if args.secret
        else None
    )
    if secret is None:
        print(
            "no vault secret: pass --secret FILE or set PWS_VAULT_SECRET",
            file=sys.stderr,
        )
        return 1
    string = args.string
    if string is None:
        string = sys.stdin.read().rstrip("\n")
    print(vault_encrypt(string, secret))
    print("Encryption successful", file=sys.stderr)
    return 0


def _cmd_compile(args: argparse.Namespace) -> int:
    """Persist the compiled pipeline — the reference's ``import`` step
    (cli/pipelinewise.py:1618 compiles YAML into per-connector JSON +
    catalogs under ~/.pipelinewise). Writes the resolved spec as JSON and,
    when --source-dir is given, the discovered per-stream JSON Schemas —
    so the compile is inspectable/diffable and a run can consume the
    frozen artifact instead of re-parsing YAML."""
    import dataclasses

    from pipelinewise_spark.plans.yaml_config import compile_yaml_file

    spec = compile_yaml_file(args.config)
    os.makedirs(args.out, exist_ok=True)
    d = dataclasses.asdict(spec)
    for s in d["streams"]:
        s["replication_method"] = str(s["replication_method"].value)
    out_spec = os.path.join(args.out, "pipeline.json")
    with open(out_spec, "w", encoding="utf-8") as fh:
        json.dump(d, fh, indent=2, sort_keys=True)
    written = [out_spec]
    if args.source_dir:
        import pyarrow.parquet as pq

        from pipelinewise_spark.schema.jsonschema import (
            struct_to_json_schema,
        )
        from pyspark.sql.types import StructType

        from pyspark.sql.pandas.types import from_arrow_schema

        for s in spec.streams:
            table = s.tap_stream_id.split("-", 1)[-1]
            path = os.path.join(args.source_dir, f"{table}.parquet")
            if not os.path.exists(path):
                continue
            struct: StructType = from_arrow_schema(pq.read_schema(path))
            out_schema = os.path.join(args.out, f"{s.tap_stream_id}.schema.json")
            with open(out_schema, "w", encoding="utf-8") as fh:
                json.dump(struct_to_json_schema(struct), fh, indent=2,
                          sort_keys=True)
            written.append(out_schema)
    print(json.dumps({"compiled": written}))
    return 0


def _cmd_init(args: argparse.Namespace) -> int:
    """Scaffold a sample pipeline YAML (the reference's `init` writes its
    samples dir). Refuses to overwrite."""
    if os.path.exists(args.path):
        print(f"refusing to overwrite existing file: {args.path}",
              file=sys.stderr)
        return 1
    with open(args.path, "w", encoding="utf-8") as fh:
        fh.write(_SAMPLE_YAML)
    print(json.dumps({"created": args.path}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pipelinewise_spark")
    sub = p.add_subparsers(dest="command", required=True)

    run = sub.add_parser("run", help="run a YAML pipeline")
    run.add_argument("--config", required=True, help="pipeline YAML")
    run.add_argument("--source-dir", required=True,
                     help="directory of <table>.parquet sources")
    run.set_defaults(fn=_cmd_run)

    prof = sub.add_parser("profile", help="profile a parquet table")
    prof.add_argument("path")
    prof.set_defaults(fn=_cmd_profile)

    st = sub.add_parser("state", help="print bookmark state")
    st.add_argument("path")
    st.set_defaults(fn=_cmd_state)

    disc = sub.add_parser(
        "discover", help="emit a Singer-style catalog for a source dir"
    )
    disc.add_argument("source_dir")
    disc.add_argument("--schema-name", default="public")
    disc.set_defaults(fn=_cmd_discover)

    opt = sub.add_parser(
        "optimize",
        help="ManifestTable maintenance: compact / zorder / bloom / vacuum",
    )
    opt.add_argument("table", help="ManifestTable root path")
    opt.add_argument("--zorder", help="comma-separated Z-order columns")
    opt.add_argument("--bloom", help="comma-separated Bloom-index columns")
    opt.add_argument("--vacuum", action="store_true")
    opt.add_argument("--keep-manifests", type=int, default=2)
    opt.add_argument("--target-files", type=int, default=None)
    opt.add_argument("--target-mb", type=int, default=None,
                     help="bin-pack compaction output to ~this file size")
    opt.add_argument("--retention", action="store_true",
                     help="apply the table's declared row-TTL policy")
    opt.add_argument("--max-dead-ratio", type=float, default=None,
                     help="also rewrite partitions whose deletion-vector "
                          "dead rows exceed this fraction")
    opt.add_argument("--where", action="append", default=None,
                     metavar="COL=V1[,V2...]",
                     help="scope compaction to these partition values "
                          "(repeatable; OPTIMIZE ... WHERE)")
    opt.set_defaults(fn=_cmd_optimize)

    stat = sub.add_parser("status", help="per-stream replication status")
    stat.add_argument("--config", required=True, help="pipeline YAML")
    stat.set_defaults(fn=_cmd_status)

    val = sub.add_parser("validate", help="validate a pipeline YAML")
    val.add_argument("--config", required=True, help="pipeline YAML")
    val.set_defaults(fn=_cmd_validate)

    rst = sub.add_parser("reset-state", help="clear bookmarks (re-sync)")
    rst.add_argument("path", help="state.json path")
    rst.add_argument("--stream", default=None,
                     help="tap_stream_id (default: all streams)")
    rst.set_defaults(fn=_cmd_reset_state)

    cln = sub.add_parser(
        "clone", help="deep-clone a manifest table (optionally a version)"
    )
    cln.add_argument("table", help="source ManifestTable root")
    cln.add_argument("dest", help="destination root")
    cln.add_argument(
        "--version", type=int, default=None,
        help="historical manifest version (point-in-time backup)",
    )
    cln.set_defaults(fn=_cmd_clone)

    ini = sub.add_parser("init", help="write a sample pipeline YAML")
    ini.add_argument("path", help="output YAML path")
    ini.set_defaults(fn=_cmd_init)

    exp = sub.add_parser(
        "export", help="export a table as split gzip CSV chunks + manifest"
    )
    exp.add_argument("source", help="parquet path or ManifestTable root")
    exp.add_argument("dest", help="output directory")
    exp.add_argument("--chunk-size-mb", type=int, default=1000)
    exp.add_argument("--max-chunks", type=int, default=20)
    exp.add_argument("--columns", default=None,
                     help="comma-separated projection (default: all)")
    exp.set_defaults(fn=_cmd_export)

    idx = sub.add_parser(
        "index",
        help="standing-LSH-index maintenance (build/extend/compact/vacuum)",
    )
    idx.add_argument("action",
                     choices=["build", "extend", "compact", "vacuum"])
    idx.add_argument("index", help="index root path")
    idx.add_argument("--source", default=None,
                     help="parquet path of the corpus/batch (build/extend)")
    idx.add_argument("--id-col", default="doc_id")
    idx.add_argument("--text-col", default="text")
    idx.set_defaults(fn=_cmd_index)

    ana = sub.add_parser(
        "analyze", help="persist one-pass table statistics (rows/nulls/NDV)"
    )
    ana.add_argument("table", help="ManifestTable root path")
    ana.add_argument("--columns", default=None,
                     help="comma-separated subset (default: all)")
    ana.set_defaults(fn=_cmd_analyze)

    dele = sub.add_parser(
        "delete",
        help="row-level DELETE WHERE via deletion vectors (no rewrites)",
    )
    dele.add_argument("table", help="ManifestTable root path")
    dele.add_argument("--where", required=True,
                      help="SQL predicate selecting rows to delete")
    dele.set_defaults(fn=_cmd_delete)

    upd = sub.add_parser(
        "update",
        help="copy-on-write UPDATE WHERE (rewrites only matched files)",
    )
    upd.add_argument("table", help="ManifestTable root path")
    upd.add_argument("--where", required=True,
                     help="SQL predicate selecting rows to update")
    upd.add_argument("--set", action="append", required=True,
                     metavar="COL=EXPR",
                     help="assignment (repeatable); EXPR is SQL over "
                          "pre-update values")
    upd.set_defaults(fn=_cmd_update)

    rb = sub.add_parser(
        "rollback",
        help="metadata-only RESTORE to a version or AS-OF timestamp",
    )
    rb.add_argument("table", help="ManifestTable root path")
    rb.add_argument("--version", type=int, help="snapshot version")
    rb.add_argument("--as-of", dest="as_of",
                    help="UTC 'YYYY-MM-DD HH:MM:SS' instant")
    rb.set_defaults(fn=_cmd_rollback)

    chg = sub.add_parser(
        "changes",
        help="change data feed between snapshots (CDF)",
    )
    chg.add_argument("table", help="ManifestTable root path")
    chg.add_argument("--from", dest="from_version", type=int, required=True,
                     help="exclusive lower snapshot version")
    chg.add_argument("--to", dest="to_version", type=int, default=None,
                     help="inclusive upper snapshot version (default: live)")
    chg.add_argument("--out", help="write feed parquet here instead of "
                                   "printing per-commit counts")
    chg.set_defaults(fn=_cmd_changes)

    br = sub.add_parser(
        "branch", help="table branch refs (write-audit-publish)"
    )
    br.add_argument("action", choices=["create", "publish", "drop", "list"])
    br.add_argument("table", help="ManifestTable root")
    br.add_argument("name", nargs="?", help="branch name")
    br.set_defaults(fn=_cmd_branch)

    sq = sub.add_parser(
        "sql", help="run SQL over ManifestTable temp views"
    )
    sq.add_argument("query", help="SQL text")
    sq.add_argument("--table", action="append", default=[],
                    help="ROOT[:VIEW_NAME] — repeatable")
    sq.add_argument("--limit", type=int, default=100)
    sq.set_defaults(fn=_cmd_sql)

    fgt = sub.add_parser(
        "forget",
        help="GDPR erasure: delete rows from live data AND history",
    )
    fgt.add_argument("table", help="ManifestTable root")
    fgt.add_argument("--where", required=True,
                     help="SQL predicate selecting the rows to erase")
    fgt.set_defaults(fn=_cmd_forget)

    met = sub.add_parser(
        "meta", help="print snapshots/files/partitions metadata tables"
    )
    met.add_argument("table", help="ManifestTable root")
    met.add_argument("kind", choices=["snapshots", "files", "partitions"])
    met.set_defaults(fn=_cmd_meta)

    aud = sub.add_parser(
        "audit", help="run an expectations rules file against a table"
    )
    aud.add_argument("table", help="ManifestTable root")
    aud.add_argument("rules", help="JSON rules file")
    aud.add_argument("--branch", help="audit a staged branch instead of main")
    aud.set_defaults(fn=_cmd_audit)

    qual = sub.add_parser(
        "quality",
        help="nightly quality matrix: live snapshot vs a reference "
             "snapshot, written beside the table",
    )
    qual.add_argument("table", help="ManifestTable root")
    qual.add_argument("--value-col", required=True)
    qual.add_argument("--key-col", required=True)
    qual.add_argument("--segment-col", required=True)
    qual.add_argument("--tie-col", help="quantile tiebreak (default: key)")
    qual.add_argument("--date-col", help="DATE column for freshness rows")
    qual.add_argument(
        "--ref-version", type=int,
        help="reference snapshot (default: previous version)",
    )
    qual.add_argument(
        "--monitors",
        help="comma list of monitor verbs to report (default: all)",
    )
    qual.set_defaults(fn=_cmd_quality)

    rq = sub.add_parser(
        "replay-quarantine",
        help="re-drive dead-letter rows through validation after a "
             "schema/source fix; repaired rows MERGE into the target, "
             "the rest stay quarantined",
    )
    rq.add_argument("quarantine",
                    help="quarantine parquet dir or ManifestTable root "
                         "(_dlq_record + violations rows)")
    rq.add_argument("--schema", required=True,
                    help="path to the FIXED stream JSON Schema document")
    rq.add_argument("--table", required=True,
                    help="target ManifestTable root to merge repaired "
                         "rows into")
    rq.add_argument("--pk", action="append", required=True,
                    help="primary-key column (repeatable)")
    rq.set_defaults(fn=_cmd_replay_quarantine)

    rd = sub.add_parser(
        "rank-drift",
        help="drain a StreamingKSMonitor state dir: KS bracket report "
             "(+ Mann-Whitney with --mw); exit 1 when any segment pages",
    )
    rd.add_argument("state_dir", help="StreamingKSMonitor state dir")
    rd.add_argument("--mw", action="store_true",
                    help="also report the Mann-Whitney bracket")
    rd.set_defaults(fn=_cmd_rank_drift)

    cs = sub.add_parser(
        "capture-status",
        help="inspect a Singer NDJSON capture without loading it: "
             "per-stream record counts, schema epochs, keys, last "
             "ACTIVATE_VERSION, final STATE",
    )
    cs.add_argument("capture", help="NDJSON capture file")
    cs.add_argument("--pk-required", action="store_true",
                    help="fail on SCHEMAs with empty key_properties "
                         "(the load-time primary_key_required check)")
    cs.set_defaults(fn=_cmd_capture_status)

    ic = sub.add_parser(
        "import-capture",
        help="load a captured Singer tap stdout stream (NDJSON) into "
             "tables under a target root",
    )
    ic.add_argument("capture", help="NDJSON capture file")
    ic.add_argument("target_root",
                    help="directory for per-stream ManifestTables")
    ic.add_argument("--replay", action="store_true",
                    help="faithful persist_lines replay (buffered "
                         "flushes + flushed_state) instead of the bulk "
                         "one-pass load")
    ic.add_argument("--batch-size", type=int, default=10_000,
                    help="replay flush size in new-PK rows")
    ic.add_argument("--state", help="bookmark state.json to advance")
    ic.add_argument("--no-pk-required", action="store_true",
                    help="allow SCHEMAs with empty key_properties "
                         "(append-only streams; the reference's "
                         "primary_key_required: false)")
    ic.add_argument("--tail", action="store_true",
                    help="capture is a GROWING directory of "
                         "sequentially named NDJSON files (tap stdout "
                         "rotated by tee): consume everything present "
                         "via Structured Streaming and resume from "
                         "--checkpoint on the next invocation")
    ic.add_argument("--checkpoint",
                    help="checkpoint dir for --tail (stream progress + "
                         "schema-registry sidecar)")
    ic.add_argument("--merge-strategy", choices=["merge_on_read"],
                    default=None,
                    help="how every mode lands a flush/load: by default "
                         "the table is rewritten copy-on-write (simple "
                         "files); 'merge_on_read' lands it as a "
                         "merge-on-read delta — O(batch) writes, for "
                         "long captures and incremental loads into big "
                         "tables")
    ic.set_defaults(fn=_cmd_import_capture)

    ec = sub.add_parser(
        "export-capture",
        help="export a table as a Singer NDJSON capture (SCHEMA + "
             "RECORD lines, consumable by any Singer target)",
    )
    ec.add_argument("table", help="ManifestTable root or parquet dir")
    ec.add_argument("--out", required=True, help="capture file to write")
    ec.add_argument("--stream", required=True, help="Singer stream name")
    ec.add_argument("--pk", action="append", required=True,
                    help="key_properties column (repeatable)")
    ec.add_argument("--version", type=int,
                    help="emit records with this table version + a "
                         "trailing ACTIVATE_VERSION (full-resync capture)")
    ec.add_argument("--rotate-records", type=int, default=None,
                    help="write --out as a capture DIRECTORY of "
                         "sequentially named files with this many "
                         "records each (the tail-follow producer "
                         "contract) instead of one file")
    ec.set_defaults(fn=_cmd_export_capture)

    stp = sub.add_parser(
        "stop", help="gracefully stop a running pipeline (stop-token file)"
    )
    stp.add_argument("--config", help="pipeline YAML (to resolve target)")
    stp.add_argument("--target-path", default=None,
                     help="pipeline target path (overrides --config)")
    stp.add_argument("--reason", default="cli-stop")
    stp.add_argument("--clear", action="store_true",
                     help="remove a pending stop token instead")
    stp.set_defaults(fn=_cmd_stop)

    tc = sub.add_parser(
        "test-connection", help="probe every stream's source (schema read)"
    )
    tc.add_argument("--config", required=True, help="pipeline YAML")
    tc.add_argument("--source-dir", required=True,
                    help="directory of <table>.parquet sources")
    tc.set_defaults(fn=_cmd_test_connection)

    enc = sub.add_parser(
        "encrypt-string", help="vault-encrypt a secret for pipeline YAML"
    )
    enc.add_argument("--string", default=None,
                     help="plaintext (default: read stdin)")
    enc.add_argument("--secret", default=None, help="vault secret file")
    enc.set_defaults(fn=_cmd_encrypt_string)

    cmp_ = sub.add_parser(
        "compile", help="persist the compiled pipeline spec (+ schemas)"
    )
    cmp_.add_argument("--config", required=True, help="pipeline YAML")
    cmp_.add_argument("--out", required=True, help="output directory")
    cmp_.add_argument("--source-dir", default=None,
                      help="discover per-stream JSON Schemas from parquet")
    cmp_.set_defaults(fn=_cmd_compile)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
