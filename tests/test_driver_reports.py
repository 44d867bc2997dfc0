"""Directory reports finished on the driver (``summary``, ``sstables``,
``pstats``, ``lookup`` and ``purge`` over ``--cassandra-dir``).

- They run no SQL engine: one Python pass over the sstable inventory, one
  Spark job, zero SQL executions.
- Their rows equal SQL oracles over the per-sstable DataFrame sources on
  edge trees: DuckDB for ``summary`` and the listings, Spark's own
  collate/percentile/top-N composition for ``pstats``.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import shutil

import duckdb
import pytest

from cassandra_sstable_tools_spark.__main__ import main
from cassandra_sstable_tools_spark.sources.sstable_binary import (
    materialize_index_files,
)

_LONG = "org.apache.cassandra.db.marshal.LongType"


def _cli(spark, argv) -> tuple[int, str, str]:
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        rc = main([*argv, "-b"], spark=spark)
    return rc, out.getvalue(), err.getvalue()


def _without_statistics(root: str, dest: str) -> str:
    shutil.copytree(root, dest)
    for path in glob.glob(f"{dest}/**/*-Statistics.db", recursive=True):
        os.remove(path)
    return dest


def _cells(pk: str, n: int) -> list[dict]:
    """One partition of ``n`` live cells."""
    return [
        dict(
            partition_key=pk, kind="CELL", clustering=f"r{i}",
            column_name="c0", cell_path=None, writetime=1000, ttl=None,
            local_deletion_time=None, is_tombstone=False, is_expiring=False,
            is_counter=False, cell_value=None, range_start=None,
            range_end=None, value_len=8, value_bytes=(7).to_bytes(8, "big"),
            value_marshal=_LONG,
        )
        for i in range(n)
    ]


def _edge_tree(root: str) -> str:
    """- ks1/ties: an uncompressed and an LZ4 sstable of equal-size
      partitions; kd..kf are in both, so sizes and sstable counts tie;
    - ks1/one: a single partition (the percentile floor == ceil);
    - ks1/even: four partitions of distinct sizes (interpolated
      percentiles), plus an sstable without Statistics.db;
    - ks2/zero: an sstable of 0 bytes (empty Data.db and Index.db)."""
    from cassandra_sstable_tools_spark.sources.pyds_writer import write_sstable

    def write(table, sid, parts, **kw):
        rows = [c for pk, n in parts for c in _cells(pk, n)]
        write_sstable(rows, f"{root}/{table}", sstable_id=sid, **kw)

    write("ks1/ties", "1", [(k, 1) for k in ("ka", "kb", "kc", "kd", "ke",
                                             "kf")])
    write("ks1/ties", "2", [(k, 1) for k in ("kd", "ke", "kf", "kg", "kh")],
          compression="lz4")
    write("ks1/one", "1", [("solo", 2)])
    write("ks1/even", "1", [("e1", 1), ("e2", 2), ("e3", 3), ("e4", 5)])
    write("ks1/even", "2", [("e5", 1)])
    (stats,) = glob.glob(f"{root}/ks1/even/*-2-*-Statistics.db")
    os.remove(stats)
    zero = f"{root}/ks2/zero"
    os.makedirs(zero)
    (one,) = glob.glob(f"{root}/ks1/one/*-Statistics.db")
    shutil.copy(one, f"{zero}/nb-1-big-Statistics.db")
    for component in ("Data.db", "Index.db"):
        open(f"{zero}/nb-1-big-{component}", "wb").close()
    return root


@pytest.fixture(scope="module")
def edge_root(tmp_path_factory):
    return _edge_tree(str(tmp_path_factory.mktemp("edge") / "data"))


# --------------------------------------------------------------------------
# No SQL engine: one job, zero SQL executions
# --------------------------------------------------------------------------

_NO_SQL_CASES = [
    "summary", "sstables", "sstables_nostats", "pstats", "lookup_keys",
    "lookup_range", "lookup_token", "purge",
]


def _no_sql_argv(spark, sf_dir, tmp_path, case) -> list[str]:
    root = materialize_index_files(spark, sf_dir)
    if case == "sstables_nostats":
        root = _without_statistics(root, str(tmp_path / "nostats"))
    if case == "lookup_token":
        from test_lookup import _plant_sstable

        for sub in ("a", "b"):
            (tmp_path / sub).mkdir()
            _plant_sstable(
                tmp_path / sub, "org.apache.cassandra.dht.Murmur3Partitioner"
            )
        return ["lookup", "--cassandra-dir", str(tmp_path), "--from-token",
                str(-(1 << 63)), "--to-token", str((1 << 63) - 1)]
    argv = [case.split("_")[0], "--cassandra-dir", root]
    if case.startswith("lookup"):
        from test_lookup import _all_keys

        keys = _all_keys(spark, sf_dir)
        if case == "lookup_keys":
            argv += ["-k", keys[0], "-k", keys[len(keys) // 2], "-k", "absent"]
        else:
            argv += ["--from", keys[0], "--to", keys[len(keys) // 3]]
    return argv


@pytest.mark.parametrize("case", _NO_SQL_CASES)
def test_directory_report_runs_no_sql(spark, sf_dir, tmp_path, case):
    """The report builds no Catalyst plan (the SQL status store counts no
    new execution) and runs exactly one Spark job in its ``cli:<command>``
    group."""
    argv = _no_sql_argv(spark, sf_dir, tmp_path, case)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    tracker = sc.statusTracker()
    group = f"cli:{argv[0]}"
    bus.waitUntilEmpty()
    executions = store.executionsCount()
    jobs = set(tracker.getJobIdsForGroup(group))
    rc, out, _ = _cli(spark, argv)
    assert rc == 0 and out
    bus.waitUntilEmpty()
    assert store.executionsCount() == executions, f"{case} ran Spark SQL"
    new_jobs = set(tracker.getJobIdsForGroup(group)) - jobs
    assert len(new_jobs) == 1, f"{case} ran {len(new_jobs)} Spark jobs"


def test_directory_pstats_runs_one_stage_without_shuffle(spark, sf_dir):
    """``pstats --cassandra-dir`` on the fixture tree is one job of one
    stage, at most ``defaultParallelism`` tasks (one wave), writing no
    shuffle bytes: each task folds its own key ranges."""
    root = materialize_index_files(spark, sf_dir)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup("cli:pstats"))
    rc, out, _ = _cli(spark, ["pstats", "--cassandra-dir", root])
    assert rc == 0 and out
    bus.waitUntilEmpty()
    (job,) = set(tracker.getJobIdsForGroup("cli:pstats")) - jobs
    (stage,) = tracker.getJobInfo(job).stageIds
    assert tracker.getStageInfo(stage).numTasks <= sc.defaultParallelism
    store = sc._jsc.sc().statusStore()
    assert store.lastStageAttempt(stage).shuffleWriteBytes() == 0


# --------------------------------------------------------------------------
# Driver finishing == SQL oracles over the per-sstable sources
# --------------------------------------------------------------------------

_KEYS = "keyspace, table_name, sstable_id"


def _oracle_db(spark, root, filenames, statistics=True):
    """DuckDB over the unchanged per-sstable DataFrame sources."""
    from cassandra_sstable_tools_spark.sources import sstable_binary as sb
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        statistics_metadata,
    )

    con = duckdb.connect()
    frames = {
        "entries": sb.binary_index_entries(spark, root, filenames),
        "disk": sb._data_db_meta(spark, root, filenames),
        "comp": sb.compression_data_lengths(spark, root, filenames),
    }
    if statistics:
        frames["stats"] = statistics_metadata(spark, root, filenames)
    for name, df in frames.items():
        con.register(name, df.toArrow())
    return con


_ORACLE_SUMMARY = f"""
WITH per AS (
    SELECT d.keyspace, d.table_name, d.disk_length,
           coalesce(c.uncompressed_length, d.disk_length) AS data_length,
           s.is_repaired, s.repaired_at
    FROM disk d
    LEFT JOIN comp c USING ({_KEYS})
    JOIN stats s USING ({_KEYS})
)
SELECT keyspace, table_name, count(*) AS sstable_count,
       CAST(sum(disk_length) AS BIGINT) AS disk_size,
       CAST(sum(data_length) AS BIGINT) AS data_size,
       max(CASE WHEN is_repaired THEN repaired_at END) AS last_repaired,
       CAST(floor(sum(CASE WHEN is_repaired THEN data_length ELSE 0 END)
                  * 100 / sum(data_length)) AS BIGINT) AS repair_pct
FROM per
GROUP BY 1, 2
"""

_LISTING_STATS = (
    "s.min_timestamp, s.max_timestamp, d.file_timestamp, "
    "s.min_local_deletion_time, s.max_local_deletion_time, s.min_ttl, "
    "s.max_ttl, s.level, s.is_repaired, s.repaired_at, "
    "s.mean_partition_size, s.max_partition_size, s.mean_column_count, "
    "s.max_column_count, s.droppable_tombstones"
)


def _oracle_listing(statistics: bool) -> str:
    return f"""
SELECT {_KEYS}, i.partitions, d.disk_length,
       coalesce(c.uncompressed_length, d.disk_length) AS uncompressed_length,
       c.uncompressed_length IS NOT NULL AS compressed
       {", " + _LISTING_STATS if statistics else ""}
FROM (SELECT {_KEYS}, count(*) AS partitions FROM entries GROUP BY 1, 2, 3) i
JOIN disk d USING ({_KEYS})
LEFT JOIN comp c USING ({_KEYS})
{f"JOIN stats s USING ({_KEYS})" if statistics else ""}
"""


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


def _trees(spark, sf_dir, edge_root):
    fixture = materialize_index_files(spark, sf_dir)
    return {"edge": edge_root, "fixture": fixture}


def _subset(root):
    """Every other Data.db name: a ``-f`` selection."""
    from cassandra_sstable_tools_spark.sources.inventory import (
        sstable_inventory,
    )

    return [s.data_name for s in sstable_inventory(root)][::2]


@pytest.mark.parametrize("tree", ["edge", "fixture"])
@pytest.mark.parametrize("subset", [False, True])
def test_summary_and_listings_match_oracles(
    spark, sf_dir, edge_root, tmp_path, tree, subset
):
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        sstables_listing_report,
        summary_report,
    )

    root = _trees(spark, sf_dir, edge_root)[tree]
    names = _subset(root) if subset else None
    con = _oracle_db(spark, root, names)
    got = summary_report(spark, root, names)
    assert got and _sorted(got) == _sorted(
        con.execute(_ORACLE_SUMMARY).fetchall()
    )
    ddl, got = sstables_listing_report(spark, root, names, file_timestamp=True)
    assert "file_timestamp" in ddl
    assert got and _sorted(got) == _sorted(
        con.execute(_oracle_listing(True)).fetchall()
    )
    nostats = _without_statistics(root, str(tmp_path / "nostats"))
    con = _oracle_db(spark, nostats, names, statistics=False)
    _, got = sstables_listing_report(spark, nostats, names, statistics=False)
    assert got and _sorted(got) == _sorted(
        con.execute(_oracle_listing(False)).fetchall()
    )


def test_edge_tree_summary_cases(spark, edge_root):
    """A 0-byte table has a NULL repair %, and the sstable without
    Statistics.db is left out of the summary and the full listing with
    the same warning as before."""
    rc, out, err = _cli(spark, ["summary", "--cassandra-dir", edge_root])
    assert rc == 0
    assert err.startswith("warning: 1 of 6 sstables have no Statistics.db "
                          "and are omitted from the summary\n")
    zero = [line for line in out.splitlines() if "zero" in line]
    assert len(zero) == 1 and zero[0].rstrip().endswith("|            |")
    rc, out, err = _cli(spark, ["sstables", "--cassandra-dir", edge_root])
    assert rc == 0 and "omitted from the full listing" in err
    # ks2/zero has no Index.db entries, ks1/even nb-2 no Statistics.db
    assert out.count("\n|") - 1 == 4


@pytest.mark.parametrize("statistics", [True, False])
def test_listing_warns_about_empty_index(spark, edge_root, tmp_path,
                                         statistics):
    """ks2/zero's Index.db has no entries, so both listings leave it out:
    stderr says so, stdout is unchanged."""
    root = edge_root
    if not statistics:
        root = _without_statistics(edge_root, str(tmp_path / "nostats"))
    rc, out, err = _cli(spark, ["sstables", "--cassandra-dir", root])
    assert rc == 0
    what = "full listing" if statistics else "listing"
    assert (f"warning: 1 of 6 sstables have an empty Index.db and are "
            f"omitted from the {what}\n") in err
    assert "zero" not in out
    rc, out, err = _cli(spark, ["sstables", "--cassandra-dir", root,
                                "--keyspace", "ks1"])
    assert rc == 0 and "empty Index.db" not in err


_WALKS = {"summary": 2, "sstables": 2, "purge": 1}


@pytest.mark.parametrize("command", list(_WALKS))
def test_directory_walks_per_command(spark, edge_root, monkeypatch,
                                     command):
    """``summary`` and ``sstables`` list the data directory twice on the
    driver: once for the Statistics.db coverage checks, once for the
    pass (on an object store each listing is a round of LIST calls).
    ``purge`` takes its warnings from the listing of its pass: once."""
    from cassandra_sstable_tools_spark.sources import inventory

    calls = []
    real = inventory._inventory

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(inventory, "_inventory", counting)
    rc, _out, _err = _cli(spark, [command, "--cassandra-dir", edge_root])
    assert rc == 0
    assert len(calls) == _WALKS[command], [c[0] for c in calls]


def test_parquet_summary_zero_bytes_is_null(spark):
    """The parquet-path ``summary`` formula on a table whose sstables sum
    to 0 bytes: NULL repair %, not an ANSI DIVIDE_BY_ZERO."""
    from cassandra_sstable_tools_spark.queries.summary import summary_of

    meta = spark.createDataFrame(
        [("ks", "t", "1", 0, 0, True, 5), ("ks", "t", "2", 0, 0, False, 0),
         ("ks", "u", "1", 10, 10, True, 7)],
        "keyspace string, table_name string, sstable_id string, "
        "disk_length bigint, uncompressed_length bigint, "
        "is_repaired boolean, repaired_at bigint",
    )
    got = {r.table_name: r for r in summary_of(meta).collect()}
    assert got["t"].repair_pct is None and got["t"].data_size == 0
    assert got["u"].repair_pct == 100


@pytest.mark.parametrize("tree", ["edge", "fixture"])
@pytest.mark.parametrize("n", [3, 10])
def test_pstats_report_matches_spark(spark, sf_dir, edge_root, tree, n):
    """Exact percentiles (floor == ceil on a one-partition table,
    interpolated on an even count), top-N ties broken by key, and the
    sstable counts equal Spark's collate + percentile + row_number
    composition over the same sizes."""
    from cassandra_sstable_tools_spark.queries import pstats as m
    from cassandra_sstable_tools_spark.sources import sstable_binary as sb
    from cassandra_sstable_tools_spark.sources.inventory import ddl_columns

    root = _trees(spark, sf_dir, edge_root)[tree]
    for names in (None, _subset(root)):
        c = m.collate_sizes(sb.binary_index_sizes(spark, root, names))
        want = [
            (df.columns, _sorted(df.collect())) for df in (
                m.summary_from_collated(c), m.top_size_from_collated(c, n),
                m.top_tables_from_collated(c, n),
            )
        ]
        got = [
            (ddl_columns(ddl), _sorted(rows))
            for ddl, rows in sb.pstats_report(spark, root, names, n)
        ]
        assert got == want
    if tree == "edge":
        summary = {r[1]: r for r in got[0][1]}
        assert summary["one"][2] == 1
        assert summary["even"][2] == 5
        top = sorted((r for r in got[1][1] if r[1] == "ties"),
                     key=lambda r: r[-1])
        # kd..kf are in both sstables (twice the size); the rest tie on
        # size and rank by key
        assert [r[2] for r in top] == [
            "kd", "ke", "kf", "ka", "kb", "kc", "kg", "kh"
        ][:n]


def _sections(text: str) -> dict[str, list[list[str]]]:
    """Rendered report -> {title: [header cells, row cells...]}."""
    out: dict[str, list[list[str]]] = {}
    for line in text.splitlines():
        if line.startswith("| "):
            out[title].append([c.strip() for c in line.strip("|").split("|")])
        elif line and not line.startswith("+"):
            title = line
            out[title] = []
    return out


def test_pstats_approx_matches_exact_outside_percentiles(spark, edge_root):
    """``--approx`` keeps Spark's sketch for the percentiles; every other
    summary column and both top-N sections equal the exact report."""
    exact = _sections(_cli(spark, ["pstats", "--cassandra-dir", edge_root])[1])
    approx = _sections(
        _cli(spark, ["pstats", "--cassandra-dir", edge_root, "--approx"])[1]
    )
    assert exact.keys() == approx.keys() and len(exact) == 3
    summary = "Partition size summary"
    head = exact[summary][0]
    keep = [i for i, c in enumerate(head) if not c.startswith("p")
            or c == "partitions"]
    assert approx[summary][0] == head
    assert [[r[i] for i in keep] for r in exact[summary]] == [
        [r[i] for i in keep] for r in approx[summary]
    ]
    for title in ("Largest partitions", "Partitions in most sstables"):
        assert exact[title] == approx[title]


@pytest.mark.parametrize("command", ["summary", "sstables", "pstats"])
def test_table_scoping_agrees(spark, edge_root, command):
    """``--table`` alone (a driver-side row filter) prints what
    ``--keyspace --table`` (a narrowed root) prints."""
    base = [command, "--cassandra-dir", edge_root]
    rc, alone, _ = _cli(spark, [*base, "--table", "ties"])
    assert rc == 0
    rc, both, _ = _cli(spark, [*base, "--keyspace", "ks1", "--table", "ties"])
    assert rc == 0
    assert alone == both
    sections = _sections(alone)
    assert sections
    for rows in sections.values():
        assert len(rows) > 1 and {r[1] for r in rows[1:]} == {"ties"}
