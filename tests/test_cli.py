"""End-to-end CLI tests through ``__main__.main``: reference flag parity
(-n / -f, cli/PartitionSizeStatisticsCollector.java:35-59) and the
strategy-dependent sstable ordering rendered by the TableBuilder path
(SSTableMetadata.java:21-42 comparators: TWCS -> maxTimestamp, LCS ->
level, STCS -> generation id, all ascending with id tiebreak). The driver's
oracle hash is order-insensitive, so row ORDER is only provable here.
"""

from __future__ import annotations

from cassandra_sstable_tools_spark.__main__ import main


def _tables(stdout: str) -> dict[str, list[list[str]]]:
    """Parse the CLI output into {section_title: data_rows}; each data row is
    the list of stripped cell strings (header row excluded)."""
    sections: dict[str, list[list[str]]] = {}
    title = None
    rows: list[list[str]] = []
    saw_header = False
    for line in stdout.splitlines():
        if line.startswith("+"):
            continue
        if line.startswith("|"):
            cells = [c.strip() for c in line.strip("|").split("|")]
            if not saw_header:
                saw_header = True  # first pipe row of a section is the header
            else:
                rows.append(cells)
            continue
        if line.strip():  # a section title
            if title is not None:
                sections[title] = rows
            title, rows, saw_header = line.strip(), [], False
    if title is not None:
        sections[title] = rows
    return sections


def test_cli_top_n_flag(spark, sf_dir, capsys):
    assert main(["pstats", "--sf-dir", sf_dir, "-n", "3"], spark=spark) == 0
    sections = _tables(capsys.readouterr().out)
    largest = sections["Largest partitions"]
    # 3 tables x top-3 each (rank column is the last-but-one... assert per group)
    per_table: dict[str, int] = {}
    for row in largest:
        per_table[row[1]] = per_table.get(row[1], 0) + 1
    assert set(per_table.values()) == {3}, per_table


def test_cli_filename_filter_flag(spark, sf_dir, capsys):
    assert main(
        ["cfstats", "--sf-dir", sf_dir, "-n", "2", "-f",
         "nb-00001-big-Data.db,nb-00003-big-Data.db"],
        spark=spark,
    ) == 0
    sections = _tables(capsys.readouterr().out)
    per_sstable = sections["Per-SSTable"]
    ids = {row[2] for row in per_sstable}
    assert ids == {"00001", "00003"}, ids
    # -n flows through alongside -f
    largest = sections["Largest partitions"]
    per_table: dict[str, int] = {}
    for row in largest:
        per_table[row[1]] = per_table.get(row[1], 0) + 1
    assert set(per_table.values()) == {2}, per_table


def test_cli_filter_restricts_purge(spark, sf_dir, capsys):
    """purge totals under -f must cover only the named sstables (the filter
    applies at the cells root, so the merge simulation sees fewer inputs)."""
    assert main(["purge", "--sf-dir", sf_dir], spark=spark) == 0
    full = _tables(capsys.readouterr().out)["Top reclaimable partitions"]
    assert main(
        ["purge", "--sf-dir", sf_dir, "-f", "nb-00002-big-Data.db"], spark=spark
    ) == 0
    filtered = _tables(capsys.readouterr().out)["Top reclaimable partitions"]
    assert filtered != full  # single-sstable merge differs from 4-way merge


def test_cli_parity_noop_flags(spark, sf_dir, capsys):
    """-t (snapshot) and -b (batch) are accepted; output is unchanged."""
    assert main(["summary", "--sf-dir", sf_dir], spark=spark) == 0
    base = capsys.readouterr().out
    assert main(
        ["summary", "--sf-dir", sf_dir, "-t", "snap1", "-b"], spark=spark
    ) == 0
    assert capsys.readouterr().out == base


def test_sstables_cli_order_matches_strategy_comparators(spark, sf_dir, capsys):
    """Golden ordering through main(): within each table, rendered row order
    must equal the reference comparator for that table's strategy."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    meta = {
        (r["table_name"], r["sstable_id"]): r
        for r in tpch_adapter.sstables(spark, sf_dir).collect()
    }
    strategy = {"tab_twcs": "TWCS", "tab_lcs": "LCS", "tab_stcs": "STCS"}

    def ref_key(table_name: str, sstable_id: str):
        m = meta[(table_name, sstable_id)]
        if strategy[table_name] == "TWCS":
            return (m["max_timestamp"], sstable_id)
        if strategy[table_name] == "LCS":
            return (m["level"], sstable_id)
        return (sstable_id,)

    assert main(["sstables", "--sf-dir", sf_dir], spark=spark) == 0
    rows = _tables(capsys.readouterr().out)["SSTables"]
    seen: dict[str, list[str]] = {}
    for row in rows:
        seen.setdefault(row[1], []).append(row[2])
    assert set(seen) == set(strategy)
    for table_name, ids in seen.items():
        expected = sorted(ids, key=lambda i: ref_key(table_name, i))
        assert ids == expected, f"{table_name}: rendered {ids} != comparator {expected}"


def test_cli_generic_query_command(spark, sf_dir, capsys):
    """`query` with no name lists every registered query; with a name it
    renders the frame with the true row count in the title."""
    assert main(["query", "--sf-dir", sf_dir], spark=spark) == 0
    listing = capsys.readouterr().out.splitlines()
    assert "funnel_stages" in listing and "tpch_q1" in listing

    assert main(["query", "funnel_stages", "--sf-dir", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert out.startswith("funnel_stages (3 rows)")
    assert "| stage |" in out

    assert main(["query", "no_such_query", "--sf-dir", sf_dir], spark=spark) == 2


def test_cli_table_scope(spark, sf_dir, capsys):
    """--keyspace/--table (the reference's `<keyspace> <table>` positionals)
    restrict every report section to the named table, and the scoped cache
    entry does not leak into subsequent unscoped runs."""
    assert main(
        ["cfstats", "--sf-dir", sf_dir, "--keyspace", "ks1",
         "--table", "tab_lcs"],
        spark=spark,
    ) == 0
    sections = _tables(capsys.readouterr().out)
    for title, rows in sections.items():
        tables = {row[1] for row in rows}
        assert tables == {"tab_lcs"}, f"{title}: {tables}"
    # unscoped rerun sees all three tables (scope-keyed cache, no leakage)
    assert main(["cfstats", "--sf-dir", sf_dir], spark=spark) == 0
    sections = _tables(capsys.readouterr().out)
    assert {row[1] for row in sections["Per-SSTable"]} == {
        "tab_twcs", "tab_lcs", "tab_stcs"
    }


def test_cli_scope_nonexistent_table_is_empty(spark, sf_dir, capsys):
    assert main(
        ["cfstats", "--sf-dir", sf_dir, "--table", "nope"], spark=spark
    ) == 0
    sections = _tables(capsys.readouterr().out)
    assert all(rows == [] for rows in sections.values()), sections


def test_cli_query_explain(spark, sf_dir, capsys):
    """--explain prints the formatted physical plan without running."""
    assert main(
        ["query", "tpch_q6", "--sf-dir", sf_dir, "--explain"], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out
    assert "rows)" not in out  # the query itself did not run/render


def test_cli_approx_percentiles(spark, sf_dir, capsys):
    """--approx swaps the sketch in: non-percentile totals must be identical
    to the exact run (the sketch only affects p* columns)."""
    assert main(["pstats", "--sf-dir", sf_dir, "-b"], spark=spark) == 0
    exact = _tables(capsys.readouterr().out)["Partition size summary"]
    assert main(
        ["pstats", "--sf-dir", sf_dir, "-b", "--approx"], spark=spark
    ) == 0
    approx = _tables(capsys.readouterr().out)["Partition size summary"]
    # columns: keyspace, table_name, partitions, total_size, min, max, avg, p*
    for e_row, a_row in zip(exact, approx):
        assert e_row[:7] == a_row[:7]
    assert len(exact) == len(approx) == 3


def test_named_snapshot_selection(spark, sf_dir, tmp_path, capsys):
    """-t NAME with --cassandra-dir analyzes the named snapshot: a data
    dir whose LIVE table is empty but whose snapshots/tag1/ holds the real
    components must produce the same sstables report as scanning those
    components live; a typo'd name fails loud, exit 2."""
    import os
    import shutil

    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    live = tmp_path / "data"
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if rel == ".":
            continue
        parts = rel.split(os.sep)
        if len(parts) != 2:
            continue
        snap = live / parts[0] / parts[1] / "snapshots" / "tag1"
        snap.mkdir(parents=True)
        for fname in files:
            os.link(os.path.join(dirpath, fname), snap / fname)
    assert main(
        ["sstables", "--cassandra-dir", str(live), "-t", "tag1",
         "--sf-dir", sf_dir, "-b"], spark=spark
    ) == 0
    from_snapshot = capsys.readouterr().out
    assert main(
        ["sstables", "--cassandra-dir", root, "--sf-dir", sf_dir, "-b"],
        spark=spark
    ) == 0
    assert from_snapshot == capsys.readouterr().out
    # live dir (no snapshot resolution) sees NO sstables: the snapshots/
    # subtree is excluded from live scans by design
    assert main(
        ["sstables", "--cassandra-dir", str(live), "--sf-dir", sf_dir, "-b"],
        spark=spark
    ) == 0
    live_out = capsys.readouterr().out
    assert from_snapshot != live_out
    # typo: loud exit 2, never a silent empty report
    assert main(
        ["sstables", "--cassandra-dir", str(live), "-t", "nope",
         "--sf-dir", sf_dir, "-b"], spark=spark
    ) == 2
    del shutil


def test_cli_compression_report(spark, sf_dir, capsys):
    """`compression` renders the per-sstable chunk-map report: compressor
    name column, one row per COMPRESSED sstable, humanized sizes."""
    assert main(["compression", "--sf-dir", sf_dir], spark=spark) == 0
    sections = _tables(capsys.readouterr().out)
    rows = sections["Compression (per compressed sstable)"]
    assert rows, "fixture tree has compressed sstables"
    header_idx = 3  # keyspace, table_name, sstable_id, compressor, ...
    assert {r[header_idx] for r in rows} == {"LZ4Compressor"}


def test_cli_compression_report_cassandra_dir(spark, sf_dir, capsys):
    """Directory mode + --keyspace scoping + a recompressed tree showing
    DeflateCompressor by name."""
    import os
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(__file__))
    from test_compressor_dispatch import _recompress_tree

    from cassandra_sstable_tools_spark.sources import lz4_block as L
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    assert main(["compression", "--cassandra-dir", root], spark=spark) == 0
    rows = _tables(capsys.readouterr().out)[
        "Compression (per compressed sstable)"
    ]
    assert rows and {r[3] for r in rows} == {"LZ4Compressor"}

    import tempfile

    dst = tempfile.mkdtemp(prefix="cli_deflate_") + "/tree"
    try:
        _recompress_tree(root, dst, L.DEFLATE)
        assert main(["compression", "--cassandra-dir", dst],
                    spark=spark) == 0
        rows = _tables(capsys.readouterr().out)[
            "Compression (per compressed sstable)"
        ]
        assert rows and {r[3] for r in rows} == {"DeflateCompressor"}
    finally:
        import shutil

        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)


def test_cli_query_runs_staged_by_name(spark, sf_dir, capsys):
    """A staged (oracle-proven, pre-registration) query is runnable and
    listed with a '(staged)' tag -- pre-registration inspection."""
    from cassandra_sstable_tools_spark.queries import registry

    staged = registry.staged_queries()
    assert staged, "round convention keeps a staged set"
    name = sorted(staged)[0]
    assert main(["query", "--sf-dir", sf_dir], spark=spark) == 0
    listing = capsys.readouterr().out
    assert f"{name} (staged)" in listing
    assert main(["query", name, "--sf-dir", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert name in out and "rows" in out


def test_render_driver_sort_matches_order_by(spark):
    """``_render(order=...)`` sorts collected rows on the driver; the
    table must equal the one rendered from Spark's own ``orderBy`` when
    the order columns hold NULLs, ties, non-ASCII strings, negative ints
    and NaN (Spark: NULLs first, NaN above every number, UTF-8 byte
    order for strings)."""
    from cassandra_sstable_tools_spark.__main__ import _render

    strs = [None, "", "a", "B", "\u00e9", "\u65e5\u672c", "\uffff",
            "\U0001f600", "z"]
    ints = [None, -(1 << 62), -7, -1, 0, 3]
    dbls = [None, float("nan"), -1.5, 0.25]
    # 72 rows over 36 distinct (s, i, d) triples: every triple is tied
    # twice, and the tie is broken by the last order column n
    rows = [
        (strs[k % 9], ints[k % 6], dbls[k % 4], -k if k % 2 else None)
        for k in range(72)
    ]
    rows += [("a", -7, None, 5), ("a", -7, None, 5)]  # exact duplicates
    df = spark.createDataFrame(
        rows, "s string, i bigint, d double, n bigint"
    ).repartition(3)
    for order in (["s", "i", "d", "n"], ["i", "d", "s", "n"],
                  ["d", "n", "s", "i"]):
        assert _render(df, order=order) == _render(df.orderBy(*order)), order
