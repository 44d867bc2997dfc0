"""CLI mirroring the reference's five subcommands (cli/CLI.java:9-20), plus
the engine's extension surface.

    python -m cassandra_sstable_tools_spark summary  [--sf-dir DIR]
    python -m cassandra_sstable_tools_spark sstables [--sf-dir DIR] [-f F1,F2]
    python -m cassandra_sstable_tools_spark pstats   [--sf-dir DIR] [-n N] [-f F1,F2]
    python -m cassandra_sstable_tools_spark cfstats  [--sf-dir DIR] [-n N] [-f F1,F2]
    python -m cassandra_sstable_tools_spark purge    [--sf-dir DIR] [-n N] [-f F1,F2]
    python -m cassandra_sstable_tools_spark clean    [--sf-dir DIR] [--out DIR]
    python -m cassandra_sstable_tools_spark dedup    [--sf-dir DIR]
    python -m cassandra_sstable_tools_spark ann      [--sf-dir DIR] [-n N]
    python -m cassandra_sstable_tools_spark query    [NAME] [--sf-dir DIR] [--max-rows N] [--explain]
    python -m cassandra_sstable_tools_spark compression [--cassandra-dir DIR] [-f F1,F2]

Flag parity with the reference CLI (cli/PartitionSizeStatisticsCollector
.java:35-59): `-n` top-N size, `-f` comma-separated Data.db filename
restriction, `-t` snapshot name (accepted; a no-op by design -- parquet
inputs are immutable, SURVEY.md §1.3/S6), `-b` batch mode (plain percent
lines instead of the interactive block bar, ProgressBar.java:25/83-94),
`--keyspace`/`--table` single-table scoping (the reference's
`<keyspace> <table>` positionals, cli/ColumnFamilyStatisticsCollector
.java:50 -- applied at the scan root so every derived frame inherits it).
Progress (S8) renders on stderr from Spark's statusTracker task counts
(report/progress.py); stdout carries only the report tables.

Reports render as the reference's ASCII tables with humanized sizes and
timestamps (X1-X3). Only report-sized results are collected to the driver.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame

from cassandra_sstable_tools_spark.report.table import sort_key as _sort_key


def _render(
    df: DataFrame,
    humanize_cols: dict[str, str] | None = None,
    order: list[str] | None = None,
) -> str:
    """Render a report-sized frame as a reference-style ASCII table.

    `order` pins display order at the presentation edge (reference reports
    are grouped per table, rankings in rank order) -- queries themselves stay
    sort-free because the driver's hash check is order-insensitive and a
    global sort inside the query would be pure cost in every embedding."""
    return _render_rows(df.columns, df.collect(), humanize_cols, order)


def _render_rows(
    columns: list[str],
    rows,
    humanize_cols: dict[str, str] | None = None,
    order: list[str] | None = None,
) -> str:
    """``_render`` over rows already collected. The ``order`` sort runs on
    the driver: a report is a handful of rows, and ``orderBy`` would cost a
    range-partitioner sampling job that re-runs the whole upstream stage
    before the sort shuffle runs it again. The sort is stable, so ties
    keep the collect order, as Spark's sort keeps its input order."""
    from cassandra_sstable_tools_spark.functions import humanize as H
    from cassandra_sstable_tools_spark.report.table import TableBuilder

    fmts = {
        "bytes": H.human_bytes,
        "ts_ms": H.format_timestamp_ms,
        "ts_us": H.format_timestamp_us,
        "ldt": H.format_deletion_time,
    }
    if order:
        idx = [columns.index(c) for c in order]
        rows = sorted(rows, key=lambda r: tuple(_sort_key(r[i]) for i in idx))
    tb = TableBuilder()
    tb.set_header(*columns)
    kinds = [(humanize_cols or {}).get(c) for c in columns]
    for r in rows:
        tb.add_row(*(
            fmts[kind](v) if kind and v is not None else v
            for kind, v in zip(kinds, r)
        ))
    return str(tb)


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry. `spark=None` builds (and stops) a session; passing one in
    runs embedded against it and leaves its lifecycle to the caller."""
    p = argparse.ArgumentParser(prog="cassandra_sstable_tools_spark")
    p.add_argument(
        "command",
        choices=["summary", "sstables", "pstats", "cfstats", "purge",
                 "compact", "lookup", "clean", "dedup", "ann", "query",
                 "compression"],
    )
    p.add_argument(
        "name", nargs="?", default=None,
        help="query: registered query name to run (omit to list all)",
    )
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("-n", type=int, default=10, help="top-N size for rankings")
    p.add_argument(
        "-f", "--filenames", default=None,
        help="comma-separated Data.db filenames to restrict to (reference -f)",
    )
    p.add_argument(
        "-t", "--snapshot", default=None, metavar="NAME",
        help="analyze the NAMED snapshot (reference "
             "ColumnFamilyStatisticsCollector.java:41). With "
             "--cassandra-dir: resolves <keyspace>/<table>/snapshots/NAME/ "
             "under the data dir via hardlinks; on the immutable parquet "
             "fixtures: accepted as a no-op (they ARE a snapshot)",
    )
    p.add_argument(
        "--keyspace", default=None,
        help="restrict analysis to one keyspace (reference commands take "
             "<keyspace> <table> positionals and analyze one table)",
    )
    p.add_argument(
        "--table", default=None,
        help="restrict analysis to one table (applied at the scan root, "
             "so every derived frame inherits it)",
    )
    p.add_argument(
        "-b", "--batch", action="store_true",
        help="batch mode (accepted for parity; output is always non-interactive)",
    )
    p.add_argument(
        "--out", default=None,
        help="clean: write keep-list here; compact: write the compacted "
             "sstable tree here (must differ from the source dir)",
    )
    p.add_argument(
        "--sstables-per-table", type=int, default=None,
        help="compact: output sstables per table (range splits on "
             "partition key; 1 = major compaction). Default: byte-derived "
             "-- ceil(input bytes / 256 MiB) splits, so one task never "
             "materializes a whole table",
    )
    p.add_argument(
        "--compression", default="none",
        choices=["none", "lz4", "deflate", "snappy"],
        help="compact: output Data.db layout (lz4/deflate/snappy = "
             "chunk-compressed + CompressionInfo map; lz4 is Cassandra's "
             "cluster default)",
    )
    p.add_argument(
        "--target-sstable-bytes", type=int, default=256 << 20,
        help="compact: byte target per output sstable when "
             "--sstables-per-table is not given (default 256 MiB)",
    )
    p.add_argument(
        "--clustering-type", default=None, metavar="TYPE",
        help="compact: typed clustering for the OUTPUT header (long, int, "
             "uuid, timestamp, ...; comma-separated aliases declare a "
             "COMPOSITE clustering, e.g. 'long,text'). Default: "
             "auto-discovered from the source sstables' own headers "
             "(single or composite); unsupported types fall back to a "
             "display-faithful UTF8 component. Rows and stats bounds "
             "order by the declared comparator, never display strings",
    )
    p.add_argument(
        "--bucketed", default=None, metavar="TABLE",
        help="pstats/cfstats: serve per-partition stats from a bucketed "
             "catalog table (materialized on first use; later runs and "
             "every stats query aggregate with zero Exchange)",
    )
    p.add_argument("--max-rows", type=int, default=50,
                   help="query: max rows to display (row count always shown)")
    p.add_argument(
        "--index", default="ivf", choices=["ivf", "ivfpq", "ivf-disk"],
        help="ann: index layout (ivf = inverted lists; ivfpq = lists + PQ "
             "codes; ivf-disk = durable list-partitioned parquet index, "
             "built on first use, probes prune partitions at file level)",
    )
    p.add_argument(
        "--cassandra-dir", default=None, metavar="DIR",
        help="ALL FIVE reference commands (pstats/sstables/summary/cfstats/"
             "purge) plus lookup/compact/compression: read a REAL Cassandra "
             "data directory (<dir>/<keyspace>/<table>/*-{Index,Data,"
             "Statistics,CompressionInfo}.db) instead of the parquet "
             "fixtures -- binary index/stats parses, full cell decode "
             "(LZ4/Deflate/Snappy chunk layer for compressed sstables; "
             "Zstd refused by name); no parquet anywhere",
    )
    p.add_argument(
        "--pin-snapshot", action="store_true",
        help="--cassandra-dir: hardlink-snapshot the component files before "
             "scanning (live-node isolation: compaction cannot delete files "
             "mid-analysis; cleared after the report, reference "
             "ColumnFamilyBackend.java:71-79)",
    )
    p.add_argument(
        "--key-type", default=None, metavar="TYPE",
        help="--cassandra-dir: render partition keys via the table's key "
             "validator (string, long, int, uuid, timeuuid, "
             "composite(t1,t2,...)) instead of the UTF-8-or-hex heuristic "
             "(reference keyValidator.getString, "
             "ColumnFamilyBackend.java:164-166). lookup additionally "
             "ENCODES -k arguments through it ('hex' accepts raw 0x bytes)",
    )
    p.add_argument(
        "-k", "--key", action="append", default=None, metavar="KEY",
        help="lookup: partition key to read (repeatable); requires "
             "--cassandra-dir",
    )
    p.add_argument(
        "--merge", action="store_true",
        help="lookup: also render the READ-TIME merged row state (LWW + "
             "tombstone shadowing across sstables -- what a CQL "
             "single-partition SELECT would serve)",
    )
    p.add_argument(
        "--from", dest="key_from", default=None, metavar="KEY",
        help="lookup: partition-range scan lower bound (inclusive; "
             "byte-ordered sstables only). Use with --to instead of -k",
    )
    p.add_argument(
        "--to", dest="key_to", default=None, metavar="KEY",
        help="lookup: partition-range scan upper bound (inclusive)",
    )
    p.add_argument(
        "--from-token", dest="token_from", type=int, default=None,
        metavar="TOKEN",
        help="lookup: murmur3 token-range scan lower bound (inclusive; "
             "Murmur3Partitioner sstables -- the nodetool-repair subrange "
             "shape). Use with --to-token",
    )
    p.add_argument(
        "--to-token", dest="token_to", type=int, default=None,
        metavar="TOKEN",
        help="lookup: murmur3 token-range scan upper bound (inclusive)",
    )
    p.add_argument(
        "--now", type=int, default=None, metavar="EPOCH_SECONDS",
        help="lookup --merge: the read instant for liveness (TTL expiry, "
             "tombstone shadowing). Defaults to the engine's pinned "
             "NOW_SECONDS (deterministic reports/goldens); pass the real "
             "clock for a live answer on a real directory",
    )
    p.add_argument(
        "--approx", action="store_true",
        help="pstats/cfstats: bounded-memory percentile sketch instead of "
             "exact per-group buffering (the 100 TB path; within 10%% of "
             "exact, driver-certified by pstats_summary_approx_check). "
             "pstats --cassandra-dir --approx runs through Spark SQL, whose "
             "sketch defines the approximate percentiles; exact mode there "
             "is one Python pass finished on the driver",
    )
    p.add_argument(
        "--explain", action="store_true",
        help="query NAME: print the formatted physical plan instead of "
             "running the query",
    )
    args = p.parse_args(argv)

    from cassandra_sstable_tools_spark.session import get_spark
    from cassandra_sstable_tools_spark.sources.tpch_adapter import (
        filename_filter,
        table_scope,
    )

    if args.cassandra_dir:
        # fail BEFORE a session spins up: a typo'd path or an unsupported
        # subcommand should not surface as a deep AnalysisException
        import os as _os

        if args.command not in ("pstats", "sstables", "summary", "cfstats",
                                "purge", "lookup", "compact",
                                "compression"):
            sys.stderr.write(
                "--cassandra-dir supports the five reference commands "
                "(pstats, sstables, summary, cfstats, purge) plus lookup, "
                "compact and compression; the other extension commands "
                "read the parquet corpus\n"
            )
            return 2
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            _local_path,
        )

        if "://" not in args.cassandra_dir and not _os.path.isdir(
            _local_path(args.cassandra_dir)
        ):
            sys.stderr.write(
                f"--cassandra-dir: not a directory: {args.cassandra_dir}\n"
            )
            return 2

    if args.cassandra_dir and not getattr(args, "key_type", None):
        # on-disk schema discovery (reference CassandraBackend.java:36-39
        # boots the schema from disk): when the data dir carries
        # system_schema.columns sstables, render partition keys via the
        # table's own key validator -- an explicit --key-type always wins,
        # ambiguity (mixed types, unscoped) keeps the UTF-8-or-hex
        # default. Runs BEFORE -t snapshot resolution: the schema keyspace
        # lives in the original data dir, not in a table's snapshot tree.
        from cassandra_sstable_tools_spark.sources.schema_discovery import (
            discovered_key_type,
        )
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            _local_path,
        )

        args.key_type = discovered_key_type(
            _local_path(args.cassandra_dir), args.keyspace, args.table
        )

    named_snap_root = None
    if getattr(args, "snapshot", None) and args.cassandra_dir:
        # the reference's -t flag: resolve the NAMED snapshot's component
        # sets to their live positions (hardlinks; the snapshot itself is
        # immutable, so no pin is needed on top). On parquet fixtures -t
        # stays the documented no-op.
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            select_snapshot,
        )

        try:
            named_snap_root = select_snapshot(args.cassandra_dir, args.snapshot)
        except FileNotFoundError as exc:
            sys.stderr.write(f"{exc}\n")
            return 2
        args.cassandra_dir = named_snap_root

    snap_root = None
    if args.cassandra_dir and args.pin_snapshot:
        # the reference's isolation move (ColumnFamilyBackend.java:71-79):
        # hardlink-snapshot the component files so a live node's compaction
        # cannot delete them mid-scan; cleared after the report, like the
        # reference clears its snapshot on close
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            snapshot_components,
        )

        snap_root = snapshot_components(args.cassandra_dir)
        args.cassandra_dir = snap_root

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name=f"sstable-tools-{args.command}")
    sf = args.sf_dir
    names = args.filenames.split(",") if args.filenames else None
    out: list[tuple[str, str]] = []

    from cassandra_sstable_tools_spark.report.progress import job_progress

    interactive = (not args.batch) and sys.stderr.isatty()
    # every job of the command carries its name (Spark UI, statusTracker
    # job groups, event logs); an embedding caller gets its own tags back
    sc = spark.sparkContext
    tag_keys = ("spark.jobGroup.id", "spark.job.description")
    saved_tags = [sc.getLocalProperty(k) for k in tag_keys]
    sc.setJobGroup(f"cli:{args.command}", f"cli:{args.command}")
    # spark.stop() must happen AFTER job_progress exits: the progress sampler
    # thread polls statusTracker until the context closes, and stopping the
    # context underneath it would race a dying SparkContext.
    try:
        with filename_filter(names), table_scope(args.keyspace, args.table):
            with job_progress(spark, f"Analyzing {args.command}", interactive=interactive):
                return _dispatch(spark, args, sf, out)
    finally:
        for k, v in zip(tag_keys, saved_tags):
            sc.setLocalProperty(k, v)
        if owns_session:
            spark.stop()
        if snap_root is not None:
            __import__("shutil").rmtree(snap_root, ignore_errors=True)
        if named_snap_root is not None:
            __import__("shutil").rmtree(named_snap_root, ignore_errors=True)


def _bucketed_section(spark, args, sf: str, out: list[tuple[str, str]]) -> None:
    """`--bucketed TABLE`: per-partition stats served from the bucketed
    layout (sources/bucketed.py) -- the SSTable sort-order optimization.
    Materializes the catalog table once; the aggregation then plans with
    zero Exchange (pinned in tests/test_plan_audit.py)."""
    if not args.bucketed:
        return
    from cassandra_sstable_tools_spark.sources.bucketed import (
        bucketed_top_partitions,
        ensure_bucketed_cells,
    )

    # distinct scopes get distinct physical tables automatically: a table
    # materialized unscoped must never serve a --keyspace/--table/-f run
    # (and vice versa) -- the layout is scope-specific, like distinct
    # tables in a lakehouse
    scope_parts = [args.bucketed]
    if args.keyspace:
        scope_parts.append(f"ks_{args.keyspace}")
    if args.table:
        scope_parts.append(f"tb_{args.table}")
    if args.filenames:
        import hashlib

        scope_parts.append(
            "f_" + hashlib.md5(args.filenames.encode()).hexdigest()[:8]
        )
    table_name = "_".join(scope_parts)
    b = ensure_bucketed_cells(spark, sf, table=table_name)
    out.append(("Largest partitions (bucketed layout, exchange-free)", _render(
        bucketed_top_partitions(b, args.n), {"size": "bytes"},
        order=None,  # bounded top-N frame is already deterministically ranked
    )))


def _scoped_cassdir_root(args) -> str:
    """--keyspace/--table narrow the --cassandra-dir scan ROOT (the real
    directory layout is <root>/<keyspace>/<table>), so out-of-scope
    directories are never even listed -- the same skip grain as the
    reference opening one ColumnFamilyStore. A --table WITHOUT --keyspace
    can't narrow the root (the keyspace level is unknown); callers apply a
    table_name predicate for that case."""
    import os as _os

    root = args.cassandra_dir
    if args.keyspace:
        root = _os.path.join(root, args.keyspace)
        if args.table:
            root = _os.path.join(root, args.table)
    return root


def _table_scope_filter(frame, args):
    """The --table-without---keyspace residual predicate (see above)."""
    if args.table and not args.keyspace:
        return frame.where(frame.table_name == args.table)
    return frame


def _table_scope_rows(rows, args):
    """``_table_scope_filter`` over report rows collected on the driver
    (table_name is every report's second column)."""
    if args.table and not args.keyspace:
        return [r for r in rows if r[1] == args.table]
    return rows


def _warn_omitted(n: int, of: int, why: str, what: str) -> None:
    """stderr warning that ``n`` of ``of`` sstables are left out of a
    report: the directory reports skip broken sstables by design
    (fabricated blanks would hide breakage), so the omission must be
    SAID, not silent -- a tool that inventories sstables must not
    under-report exactly the broken ones."""
    if n > 0:
        sys.stderr.write(
            f"warning: {n} of {of} sstables {why} and are omitted from the "
            f"{what}\n"
        )


def _warn_partial_statistics(spark, root, names, what: str) -> None:
    """Warn when some sstables lack Statistics.db: the Statistics-joined
    reports inner-join them away."""
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        statistics_coverage,
    )

    n_data, n_stats, _ = statistics_coverage(spark, root, names)
    _warn_omitted(n_data - n_stats, n_data, "have no Statistics.db", what)


def _dispatch(spark, args, sf: str, out: list[tuple[str, str]]) -> int:
    if args.name and args.command != "query":
        # the positional exists only for `query NAME`; silently ignoring it
        # elsewhere would swallow typos (`summary pstats` running only summary)
        sys.stderr.write(
            f"unexpected argument {args.name!r} for command {args.command!r}\n"
        )
        return 2
    if args.command == "summary":
        from cassandra_sstable_tools_spark.queries.summary import summary

        if args.cassandra_dir:
            # directory-only summary: lengths from Data/CompressionInfo,
            # repair state from Statistics.db -- one read per sstable,
            # aggregated on the driver, zero parquet and no SQL plan.
            # No Statistics.db at all is an ERROR (repair state lives
            # nowhere else; an empty table with rc=0 would read as "no
            # data"), and partial coverage warns like the listing does.
            from cassandra_sstable_tools_spark.sources.inventory import (
                ddl_columns,
            )
            from cassandra_sstable_tools_spark.sources.statistics_db import (
                SUMMARY_SCHEMA,
                statistics_coverage,
                summary_report,
            )

            names = args.filenames.split(",") if args.filenames else None
            root = _scoped_cassdir_root(args)
            n_data, n_stats, _ = statistics_coverage(spark, root, names)
            if not n_stats:
                sys.stderr.write(
                    "summary --cassandra-dir needs Statistics.db components "
                    f"(repair state lives nowhere else); none found under "
                    f"{root}\n"
                )
                return 2
            _warn_omitted(
                n_data - n_stats, n_data, "have no Statistics.db", "summary"
            )
            cols = ddl_columns(SUMMARY_SCHEMA)
            rows = _table_scope_rows(summary_report(spark, root, names), args)
        else:
            frame = summary(spark, sf)
            cols, rows = frame.columns, frame.collect()
        out.append(("Summary", _render_rows(
            cols, rows,
            {"disk_size": "bytes", "data_size": "bytes", "last_repaired": "ts_ms"},
            order=["keyspace", "table_name"],
        )))
    elif args.command == "compression":
        # per-sstable compression report (compressor name, chunk
        # geometry, physical ratio) from the CompressionInfo chunk maps
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            compression_report_cassdir,
            compression_report_from_dir,
        )

        if args.cassandra_dir:
            names = args.filenames.split(",") if args.filenames else None
            report = _table_scope_filter(
                compression_report_from_dir(
                    spark, _scoped_cassdir_root(args), filenames=names
                ),
                args,
            )
        else:
            report = compression_report_cassdir(spark, sf)
        out.append(("Compression (per compressed sstable)", _render(
            report,
            {"uncompressed_length": "bytes", "disk_length": "bytes",
             "chunk_length": "bytes"},
            order=["keyspace", "table_name", "sstable_id"])))
    elif args.command == "sstables":
        from cassandra_sstable_tools_spark.queries.sstables_listing import sstables_listing

        if args.cassandra_dir:
            # directory-only listing, one read per sstable finished on the
            # driver. When Statistics.db components are present (every
            # healthy Cassandra directory), render the reference's FULL
            # metadata listing (cli/SSTableMetadataCollector.java:40-90)
            # straight off the binary components; otherwise fall back to
            # the columns derivable from Index/Data/CompressionInfo alone.
            from cassandra_sstable_tools_spark.sources.inventory import (
                ddl_columns,
            )
            from cassandra_sstable_tools_spark.sources.statistics_db import (
                sstables_listing_report,
                statistics_coverage,
            )

            root = _scoped_cassdir_root(args)
            names = args.filenames.split(",") if args.filenames else None
            n_data, n_stats, n_empty = statistics_coverage(spark, root, names)
            full = n_stats > 0
            what = "full listing" if full else "listing"
            if full:
                _warn_omitted(
                    n_data - n_stats, n_data, "have no Statistics.db", what
                )
            _warn_omitted(n_empty, n_data, "have an empty Index.db", what)
            ddl, rows = sstables_listing_report(
                spark, root, names, file_timestamp=full, statistics=full
            )
            fmts = {
                "min_timestamp": "ts_us", "max_timestamp": "ts_us",
                "file_timestamp": "ts_ms", "repaired_at": "ts_ms",
                "min_local_deletion_time": "ldt",
                "max_local_deletion_time": "ldt",
                "disk_length": "bytes",
                "uncompressed_length": "bytes",
                "mean_partition_size": "bytes",
                "max_partition_size": "bytes",
            }
            out.append(("SSTables (directory-derived)", _render_rows(
                ddl_columns(ddl), _table_scope_rows(rows, args), fmts,
                order=["keyspace", "table_name", "sstable_id"])))
            for title, table in out:
                sys.stdout.write(f"{title}\n{table}\n")
            return 0
        out.append(("SSTables", _render(
            sstables_listing(spark, sf),
            {
                "min_timestamp": "ts_us", "max_timestamp": "ts_us",
                "min_local_deletion_time": "ldt", "max_local_deletion_time": "ldt",
                "file_timestamp": "ts_ms", "repaired_at": "ts_ms",
                "disk_length": "bytes", "uncompressed_length": "bytes",
                "avg_row_size": "bytes", "max_row_size": "bytes",
            },
            order=["keyspace", "table_name", "sort_rank", "sstable_id"],
        )))
    elif args.command == "pstats":
        from cassandra_sstable_tools_spark.queries import pstats as m

        size_fmt = {k: "bytes" for k in
                    ["total_size", "min_size", "max_size", "avg_size",
                     "p50", "p75", "p90", "p95", "p99", "p999"]}
        if args.cassandra_dir:
            # directory-only mode: the whole report off real binary files
            # (Index.db entries + CompressionInfo/Data.db lengths), zero
            # parquet. --keyspace/--table narrow the scan ROOT (whole
            # directories never listed); -f prunes at the file listing
            # before any parse -- the same skip grain as the reference's
            # reader. Exact mode is one Python pass finished on the driver
            # (pstats_report); --approx keeps the DataFrame composition,
            # because Spark's percentile sketch defines its output.
            from cassandra_sstable_tools_spark.sources import (
                sstable_binary as sb,
            )
            from cassandra_sstable_tools_spark.sources.inventory import (
                ddl_columns,
            )

            names = args.filenames.split(",") if args.filenames else None
            root = _scoped_cassdir_root(args)
            if args.approx:
                c = m.collate_sizes(sb.binary_index_sizes(
                    spark, root, filenames=names, key_type=args.key_type
                )).persist()
                try:
                    sections = [(df.columns, df.collect()) for df in (
                        m.summary_from_collated(c, approx=True),
                        m.top_size_from_collated(c, args.n),
                        m.top_tables_from_collated(c, args.n),
                    )]
                finally:
                    c.unpersist()
            else:
                sections = [
                    (ddl_columns(ddl), rows) for ddl, rows in sb.pstats_report(
                        spark, root, names, args.n, key_type=args.key_type
                    )
                ]
            sections = [
                (cols, _table_scope_rows(rows, args)) for cols, rows in sections
            ]
        else:
            sections = [(df.columns, df.collect()) for df in (
                m.pstats_summary(spark, sf, approx=args.approx),
                m.pstats_top_size(spark, sf, args.n),
                m.pstats_top_tables(spark, sf, args.n),
            )]
        by_table = ["keyspace", "table_name"]
        for title, (cols, rows), fmts, order in zip(
            ("Partition size summary", "Largest partitions",
             "Partitions in most sstables"),
            sections,
            (size_fmt, {"size": "bytes"}, {"size": "bytes"}),
            (by_table, [*by_table, "rank"], [*by_table, "rank"]),
        ):
            out.append((title, _render_rows(cols, rows, fmts, order=order)))
        if args.cassandra_dir and getattr(args, "bucketed", False):
            # the bucketed section reads the parquet fixture layout; mixing
            # it into a report advertised as directory-only would be a lie
            # (r07 ADVICE #4) -- skip loudly instead
            print(
                "pstats: --bucketed reads the parquet fixture layout and is "
                "skipped under --cassandra-dir",
                file=sys.stderr,
            )
        else:
            _bucketed_section(spark, args, sf, out)
    elif args.command == "cfstats":
        from cassandra_sstable_tools_spark.queries import cfstats as m

        if args.cassandra_dir:
            # directory-only mode: every section off REAL Data.db cell
            # streams (sources/data_cells.py) + Index.db position-delta
            # sizes; zero parquet. Scope = cell-decodable sstables
            # (Statistics.db present), the rest announced, not silent.
            from cassandra_sstable_tools_spark.sources import data_cells as dcm

            names = args.filenames.split(",") if args.filenames else None
            root = _scoped_cassdir_root(args)
            _warn_partial_statistics(spark, root, names, "cfstats")
            # ONE decode pass + ONE index-sizes pass feed all 8 sections
            # (reference: one scanner pass for the whole report,
            # ColumnFamilyStatisticsCollector.java:121-141); typed keys
            # re-render the partition keys, so --key-type keeps its own
            # sizes pass for the largest-partitions ranking
            decoded, sizes = dcm.cfstats_shared_dir_frames(spark, root, names)
            typed = sizes if args.key_type is None else dcm.dir_partition_sizes(
                spark, root, names, key_type=args.key_type
            )
            frames = [
                _table_scope_filter(df, args)
                for df in m.directory_report(decoded, sizes, typed, args.n)
            ]
        else:
            frames = [
                m.cfstats_global(spark, sf, approx=args.approx),
                m.cfstats_sstables(spark, sf),
                m.cfstats_ttl(spark, sf),
                *(rank(spark, sf, args.n) for rank in m.RANKINGS),
            ]
        by_table = ["keyspace", "table_name"]
        by_rank = [*by_table, "rank"]
        for (title, fmts, order), df in zip((
            ("Totals", {"total_size": "bytes", "avg_partition_size": "bytes"},
             by_table),
            ("Per-SSTable", {"size": "bytes", "min_timestamp": "ts_us",
                             "max_timestamp": "ts_us"},
             [*by_table, "sstable_id"]),
            ("TTL histogram", None, [*by_table, "ttl"]),
            ("Largest partitions", {"size": "bytes"}, by_rank),
            ("Widest partitions", None, by_rank),
            ("Most tombstones", None, by_rank),
            ("Most deleted rows", None, by_rank),
            ("In most sstables", None, by_rank),
        ), frames):
            out.append((title, _render(df, fmts, order=order)))
        if not args.cassandra_dir:
            _bucketed_section(spark, args, sf, out)
    elif args.command == "purge":
        from cassandra_sstable_tools_spark.queries import purge as m

        if args.cassandra_dir:
            # directory-only: per table and key range, every sstable's
            # partitions merged in key order and purged inside the task
            # (sources/merge_scan.py); totals and top-N finish on the
            # driver. One Spark job, no shuffle, no SQL plan.
            from cassandra_sstable_tools_spark.constants import DEFAULT_TOP_N
            from cassandra_sstable_tools_spark.sources import merge_scan
            from cassandra_sstable_tools_spark.sources.inventory import (
                live_sstables,
            )
            from cassandra_sstable_tools_spark.sources.statistics_db import (
                sstable_coverage,
            )

            names = args.filenames.split(",") if args.filenames else None
            ssts = live_sstables(
                "purge", _scoped_cassdir_root(args), names, ()
            )
            n_data, n_stats, n_empty = sstable_coverage(ssts)
            _warn_omitted(
                n_data - n_stats, n_data, "have no Statistics.db", "purge"
            )
            _warn_omitted(n_empty, n_data, "have an empty Index.db", "purge")
            totals, top = merge_scan.purge_report(
                spark, ssts, args.n or DEFAULT_TOP_N
            )
            out.append(("Purge totals", _render_rows(
                merge_scan.PURGE_TOTALS_COLUMNS,
                _table_scope_rows(totals, args),
                {"total_size": "bytes", "total_merged": "bytes",
                 "total_reclaimable": "bytes"},
                order=["keyspace", "table_name"])))
            out.append(("Top reclaimable partitions", _render_rows(
                merge_scan.PURGE_TOP_COLUMNS, _table_scope_rows(top, args),
                {"pre_size": "bytes", "merged_size": "bytes",
                 "reclaimable": "bytes"},
                order=["keyspace", "table_name", "rank"])))
            for title, table in out:
                sys.stdout.write(f"{title}\n{table}\n")
            return 0
        out.append(("Purge totals", _render(m.purge_global(spark, sf),
                                            {"total_size": "bytes", "total_merged": "bytes",
                                             "total_reclaimable": "bytes"},
                                            order=["keyspace", "table_name"])))
        out.append(("Top reclaimable partitions", _render(
            m.purge_top(spark, sf, args.n),
            {"pre_size": "bytes", "merged_size": "bytes", "reclaimable": "bytes"},
            order=["keyspace", "table_name", "rank"])))
    elif args.command == "compact":
        # EXECUTED compaction (the reference's purge only simulates it):
        # decode -> merge/purge through the shared formulation -> write
        # real sstables into --out via the cassandra-sstable sink
        from cassandra_sstable_tools_spark.operators.compaction import (
            compact_dir,
        )

        if not args.cassandra_dir:
            sys.stderr.write(
                "compact is directory-only: pass --cassandra-dir DIR\n"
            )
            return 2
        if not args.out:
            sys.stderr.write(
                "compact writes a NEW tree: pass --out DIR (never "
                "rewrites the source in place)\n"
            )
            return 2
        names = args.filenames.split(",") if args.filenames else None
        root = _scoped_cassdir_root(args)
        _warn_partial_statistics(spark, root, names, "compact")
        # --keyspace narrows the root (when given); --table WITHOUT
        # --keyspace cannot narrow a path, so it scopes the compaction
        # and its report inside compact_dir (review finding: every other
        # cassandra-dir command applies the same table-only predicate)
        report = compact_dir(
            spark, root, args.out, filenames=names,
            sstables_per_table=args.sstables_per_table,
            key_type=args.key_type,
            compression=args.compression,
            table=args.table if not args.keyspace else None,
            target_sstable_bytes=args.target_sstable_bytes,
            clustering_type=args.clustering_type,
        )
        out.append(("Compaction", _render(
            report,
            {"bytes_in": "bytes", "bytes_out": "bytes",
             "bytes_reclaimed": "bytes"},
            order=["keyspace", "table_name"])))
        for title, table in out:
            sys.stdout.write(f"{title}\n{table}\n")
        return 0
    elif args.command == "lookup":
        # the point-read path (sources/lookup.py): bloom -> summary ->
        # index window -> data block, per sstable -- inherently a
        # real-file feature (the components ARE the read path)
        if not args.cassandra_dir:
            sys.stderr.write(
                "lookup reads real sstable components; pass "
                "--cassandra-dir DIR\n"
            )
            return 2
        range_mode = args.key_from is not None or args.key_to is not None
        token_mode = args.token_from is not None or args.token_to is not None
        if range_mode and (args.key_from is None or args.key_to is None):
            # `is not None`, not truthiness: the empty string is the
            # legitimate inclusive minimum in byte order (review finding)
            sys.stderr.write("lookup range mode needs BOTH --from and --to\n")
            return 2
        if token_mode and (args.token_from is None or args.token_to is None):
            sys.stderr.write(
                "lookup token mode needs BOTH --from-token and --to-token\n"
            )
            return 2
        if sum([bool(args.key), range_mode, token_mode]) != 1:
            sys.stderr.write(
                "lookup takes exactly one of: -k keys, --from/--to, "
                "--from-token/--to-token\n"
            )
            return 2
        if args.merge and (range_mode or token_mode):
            # silent flag loss is worse than a loud refusal
            sys.stderr.write(
                "lookup --merge applies to -k point reads, not range mode\n"
            )
            return 2
        from cassandra_sstable_tools_spark.sources import lookup as L
        from cassandra_sstable_tools_spark.sources.data_cells import (
            DATA_CELLS_SCHEMA,
            _COLS,
        )
        from cassandra_sstable_tools_spark.sources.inventory import (
            ddl_columns,
        )

        root = _scoped_cassdir_root(args)
        names = args.filenames.split(",") if args.filenames else None
        # ONE pass over the read path, no SQL plan: the records and the
        # audit of every sstable come back in the same collect
        if token_mode:
            name = "token_range_read"
            read = L.token_range_reader(args.token_from, args.token_to)
            titles = ("Token-range records", "Token-range audit")
            audit_ddl = L.RANGE_AUDIT_SCHEMA
            audit_order = ["keyspace", "table_name", "sstable_id"]
        elif range_mode:
            name = "range_read"
            read = L.range_reader(
                args.key_from, args.key_to, key_type=args.key_type
            )
            titles = ("Range records", "Range-scan audit")
            audit_ddl = L.RANGE_AUDIT_SCHEMA
            audit_order = ["keyspace", "table_name", "sstable_id"]
        else:
            name = "point_read"
            read = L.point_reader(args.key, key_type=args.key_type)
            titles = ("Per-SSTable records", "Read-path audit")
            audit_ddl = L.LOOKUP_AUDIT_SCHEMA
            audit_order = ["keyspace", "table_name", "partition_key",
                           "sstable_id"]
        recs, audits = L.split_rows(_table_scope_rows(
            L.read_rows(spark, name, root, names, read), args
        ))
        out.append((titles[0], _render_rows(
            _COLS, recs,
            {"writetime": "ts_us", "local_deletion_time": "ldt"},
            order=["keyspace", "table_name", "partition_key", "sstable_id",
                   "clustering", "column_name", "kind"],
        )))
        if args.merge:
            out.append((
                "Merged live state (LWW + tombstone shadowing)",
                _render(
                    L.merged_view(
                        spark.createDataFrame(recs, DATA_CELLS_SCHEMA),
                        args.now,
                    ),
                    {"writetime": "ts_us"},
                    order=["keyspace", "table_name", "partition_key",
                           "clustering", "cell_name"],
                ),
            ))
        out.append((titles[1], _render_rows(
            ddl_columns(audit_ddl), audits,
            {"index_bytes_read": "bytes", "data_bytes_read": "bytes"},
            order=audit_order,
        )))
    elif args.command == "clean":
        from cassandra_sstable_tools_spark.llm.pipeline import corpus_clean_stats

        out.append(("Cleaning funnel", _render(corpus_clean_stats(spark, sf))))
        if args.out:
            from cassandra_sstable_tools_spark.sources.parquet_sink import (
                write_clean_corpus,
            )

            written = write_clean_corpus(spark, sf, args.out)
            sys.stdout.write(f"wrote {written.count()} kept docs to {args.out}\n")
    elif args.command == "dedup":
        from pyspark.sql import functions as F

        from cassandra_sstable_tools_spark.llm.dedup import (
            dedup_exact,
            minhash_lsh_pairs,
        )

        dupes = dedup_exact(spark, sf).where(F.col("copies") > 1)
        out.append(("Exact duplicate groups", _render(dupes)))
        out.append(("Near-duplicate pairs (minhash-LSH, verified)", _render(
            minhash_lsh_pairs(spark, sf))))
    elif args.command == "query":
        # Generic escape hatch: every registered (oracle-certified) query is
        # user-runnable by name. Display truncates at --max-rows after a
        # deterministic all-column sort; the row count is always reported.
        from cassandra_sstable_tools_spark.queries import registry

        qs = registry.queries()
        staged = registry.staged_queries()
        if not args.name:
            sys.stdout.write("\n".join(sorted(qs)) + "\n")
            if staged:
                sys.stdout.write("\n".join(
                    f"{n} (staged)" for n in sorted(staged)) + "\n")
            return 0
        if args.name in staged and args.name not in qs:
            qs = {**qs, args.name: staged[args.name]}
        if args.name not in qs:
            sys.stderr.write(f"unknown query {args.name!r} (run `query` with "
                             "no name to list)\n")
            return 2
        if args.explain:
            # plan inspection: the same .explain("formatted") text the plan
            # audit tests pin -- lets a user check pushdown/broadcast/shuffle
            # shape on THEIR data without running the query
            from cassandra_sstable_tools_spark.plans.audit import formatted_plan

            sys.stdout.write(formatted_plan(qs[args.name](spark, sf)) + "\n")
            return 0
        df = qs[args.name](spark, sf).persist()
        try:
            # persist => the query computes ONCE; the count materializes the
            # cache and the ordered display reads it (an uncached frame would
            # run expensive iterative queries end-to-end twice)
            n_rows = df.count()
            shown = df.orderBy(*df.columns).limit(args.max_rows)
            out.append((f"{args.name} ({n_rows} rows"
                        + (f", first {args.max_rows} shown" if n_rows > args.max_rows else "")
                        + ")", _render(shown)))
        finally:
            df.unpersist()
    elif args.command == "ann":
        from cassandra_sstable_tools_spark.llm.similarity import (
            ann_ivf_topk,
            ann_ivfpq_topk,
        )

        from cassandra_sstable_tools_spark.llm.similarity import (
            N_QUERIES,
            TOP_K,
        )

        # the ANN operators rank a FIXED top-K per query (registry/oracle
        # contract); -n is a report-ranking knob, not an ANN parameter --
        # the header states what actually ran instead of echoing -n
        head = f"top-{TOP_K} neighbors (first {N_QUERIES} query vectors)"
        limit = N_QUERIES * TOP_K
        if args.index == "ivfpq":
            out.append((f"IVF+PQ {head}",
                        _render(ann_ivfpq_topk(spark, sf).limit(limit))))
        elif args.index == "ivf-disk":
            from cassandra_sstable_tools_spark.llm.ann_index import (
                ann_ivf_topk_indexed,
            )

            out.append((f"IVF (durable index) {head}",
                        _render(ann_ivf_topk_indexed(spark, sf).limit(limit))))
        else:
            out.append((f"IVF {head}",
                        _render(ann_ivf_topk(spark, sf).limit(limit))))

    for title, table in out:
        sys.stdout.write(f"{title}\n{table}\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
