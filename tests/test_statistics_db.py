"""Statistics.db source: TOC + StatsMetadata codec across version regimes,
Cassandra histogram formula replication, corruption loudness, and the
oracle-certified directory queries.

The encoder is the in-repo fixture writer; the byte-exactness tests below
pin EXACT wire patterns derived independently from the public Cassandra
format (Java DataOutput big-endian primitives, the EstimatedHistogram
offsets[max(0, i-1)] pairing quirk), not just encode(parse(x)) == x.
"""

from __future__ import annotations

import os
import random
import shutil
import struct

import pytest

from cassandra_sstable_tools_spark.constants import GC_BEFORE
from cassandra_sstable_tools_spark.sources.statistics_db import (
    SSTableStats,
    droppable_before,
    encode_statistics_db,
    encode_stats_metadata,
    estimated_histogram_max,
    estimated_histogram_mean,
    parse_statistics_db,
    statistics_metadata,
)

_VERSIONS = ["ma", "mb", "mc", "md", "me", "na", "nb", "nc"]

_FIELDS = [
    "partitioner", "bloom_fp_chance", "partition_size_hist",
    "column_count_hist", "min_timestamp", "max_timestamp",
    "min_local_deletion_time", "max_local_deletion_time", "min_ttl",
    "max_ttl", "compression_ratio", "tombstone_hist", "level",
    "repaired_at", "min_clustering", "max_clustering",
    "has_legacy_counter_shards", "total_columns_set", "total_rows",
]


def _random_stats(rng: random.Random) -> SSTableStats:
    return SSTableStats(
        partitioner=rng.choice(
            ["org.apache.cassandra.dht.Murmur3Partitioner",
             "org.apache.cassandra.dht.RandomPartitioner"]
        ),
        bloom_fp_chance=rng.choice([0.01, 0.1, 0.6789]),
        partition_size_hist=sorted(
            {rng.randrange(1, 10**9): rng.randrange(1, 10**6)
             for _ in range(rng.randrange(0, 20))}.items()
        ),
        column_count_hist=sorted(
            {rng.randrange(1, 10**4): rng.randrange(1, 10**6)
             for _ in range(rng.randrange(0, 10))}.items()
        ),
        min_timestamp=rng.randrange(0, 2**62),
        max_timestamp=rng.randrange(0, 2**62),
        min_local_deletion_time=rng.choice([2147483647, 1698986000]),
        max_local_deletion_time=rng.choice([2147483647, 1699999999]),
        min_ttl=rng.randrange(0, 10**6),
        max_ttl=rng.randrange(0, 10**6),
        compression_ratio=rng.choice([-1.0, 0.6, 0.25]),
        tombstone_hist=sorted(
            {float(rng.randrange(1, 2**31)): rng.randrange(1, 10**6)
             for _ in range(rng.randrange(0, 15))}.items()
        ),
        level=rng.randrange(0, 8),
        repaired_at=rng.choice([0, 1700000000000]),
        min_clustering=[b"0001"],
        max_clustering=[b"0049"],
        has_legacy_counter_shards=rng.random() < 0.5,
        total_columns_set=rng.randrange(0, 10**9),
        total_rows=rng.randrange(0, 10**9),
        is_transient=rng.random() < 0.5,
    )


def test_round_trip_fuzz_all_versions():
    rng = random.Random(20260815)
    for trial in range(300):
        ver = rng.choice(_VERSIONS)
        st = _random_stats(rng)
        got = parse_statistics_db(
            encode_statistics_db(st, ver), ver, source=f"trial{trial}"
        )
        for f in _FIELDS:
            assert getattr(got, f) == getattr(st, f), (trial, ver, f)
        if ver >= "na":
            assert got.is_transient == st.is_transient


def test_stats_metadata_exact_bytes_prefix():
    """Spec-pinned leading bytes of a minimal 'ma' StatsMetadata: empty
    psize histogram serializes as n=1 (lone overflow bucket) with the
    duplicated first offset, then the second histogram, then the
    CommitLogPosition.NONE sentinel (-1L, 0), then minTimestamp."""
    st = SSTableStats(min_timestamp=7, max_timestamp=9)
    blob = encode_stats_metadata(st, "ma")
    expect = (
        struct.pack(">i", 1) + struct.pack(">qq", 0, 0)  # psize hist
        + struct.pack(">i", 1) + struct.pack(">qq", 0, 0)  # ccount hist
        + struct.pack(">qi", -1, 0)                        # CLP.NONE
        + struct.pack(">qq", 7, 9)                         # min/max ts
    )
    assert blob.startswith(expect)
    # 'ma' has NO trailing commit-log/pending-repair fields: the record
    # ends exactly at totalRows
    tail = struct.pack(">qq", st.total_columns_set, st.total_rows)
    assert blob.endswith(tail)


def test_version_tail_lengths_monotonic():
    """Each version gate appends bytes; within a family the tail grows."""
    st = SSTableStats()
    sizes = {v: len(encode_stats_metadata(st, v)) for v in _VERSIONS}
    assert sizes["ma"] < sizes["mb"] < sizes["mc"] == sizes["md"]
    assert sizes["md"] < sizes["me"]  # originatingHostId byte
    assert sizes["mc"] < sizes["na"] == sizes["nb"] < sizes["nc"]


def test_histogram_formulas_match_cassandra():
    # mean: ceil of the count-weighted mean, 0 when empty
    assert estimated_histogram_mean([]) == 0
    assert estimated_histogram_mean([(10, 2), (20, 2)]) == 15
    assert estimated_histogram_mean([(10, 1), (11, 2)]) == 11  # ceil(32/3)
    # max: overflow bucket -> Long.MAX_VALUE, else top non-zero offset
    assert estimated_histogram_max([], 0) == 0
    assert estimated_histogram_max([(5, 0), (7, 3)], 0) == 7
    assert estimated_histogram_max([(5, 0), (7, 0)], 0) == 0
    assert estimated_histogram_max([(5, 1)], 2) == (1 << 63) - 1
    # droppable: strict < gcBefore (engine-wide contract)
    assert droppable_before([(100.0, 5), (200.0, 7)], 200) == 5
    assert droppable_before([(100.0, 5), (200.0, 7)], 201) == 12


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:10],                        # truncated mid-TOC
        lambda b: b[: len(b) // 2],              # truncated mid-component
        lambda b: struct.pack(">i", 99) + b[4:],  # bogus component count
        lambda b: b[:4] + struct.pack(">ii", 2, 2**30) + b[12:],  # bad offset
    ],
)
def test_corruption_is_loud(mutate):
    blob = encode_statistics_db(SSTableStats(), "nb")
    with pytest.raises(ValueError, match="Statistics.db"):
        parse_statistics_db(mutate(blob), "nb", source="planted")


def test_missing_stats_component_is_loud():
    """A TOC without a STATS entry must fail by name, not by misparse."""
    blob = encode_statistics_db(SSTableStats(), "nb")
    n = struct.unpack(">i", blob[:4])[0]
    toc = bytearray(blob[: 4 + 8 * n])
    for i in range(n):
        at = 4 + 8 * i
        if struct.unpack(">i", toc[at : at + 4])[0] == 2:  # STATS -> HEADER
            toc[at : at + 4] = struct.pack(">i", 3)
    with pytest.raises(ValueError, match="no STATS component"):
        parse_statistics_db(bytes(toc) + blob[4 + 8 * n :], "nb", "planted")


def test_unsupported_versions_rejected_by_name():
    """Layouts outside the 3.x/4.x big families (pre-3.0 'jb', 5.0 'oa',
    BTI 'da') must fail LOUD by version name, never misparse quietly --
    5.0 reshaped the StatsMetadata clustering fields."""
    for ver in ["jb", "oa", "da"]:
        with pytest.raises(ValueError, match=f"version '{ver}'"):
            parse_statistics_db(b"\x00\x00\x00\x01", ver, source="planted")
        with pytest.raises(ValueError, match=f"version '{ver}'"):
            encode_statistics_db(SSTableStats(), ver)


def _plant_tree(tmp_path, version: str, stats: SSTableStats) -> str:
    d = tmp_path / "ks1" / "tab"
    d.mkdir(parents=True)
    (d / f"{version}-00001-big-Statistics.db").write_bytes(
        encode_statistics_db(stats, version)
    )
    return str(tmp_path)


@pytest.mark.parametrize("version", ["mc", "me", "nb", "nc"])
def test_statistics_metadata_reads_version_regimes(spark, tmp_path, version):
    """The distributed scan honors the filename's format version for the
    version-gated StatsMetadata tail fields."""
    st = SSTableStats(
        min_timestamp=111, max_timestamp=222, level=3,
        repaired_at=1700000000000,
        partition_size_hist=[(100, 2), (300, 1)],
        column_count_hist=[(4, 3)],
        tombstone_hist=[(float(GC_BEFORE - 1), 5), (float(GC_BEFORE), 9)],
        min_clustering=[b"aa"], max_clustering=[b"zz"],
        total_columns_set=17, total_rows=11,
    )
    row = statistics_metadata(
        spark, _plant_tree(tmp_path, version, st)
    ).collect()
    assert len(row) == 1
    r = row[0]
    assert (r["keyspace"], r["table_name"], r["sstable_id"]) == (
        "ks1", "tab", "00001",
    )
    assert (r["min_timestamp"], r["max_timestamp"]) == (111, 222)
    assert (r["level"], r["repaired_at"], r["is_repaired"]) == (
        3, 1700000000000, True,
    )
    assert r["mean_partition_size"] == 167  # ceil(500/3)
    assert r["max_partition_size"] == 300
    assert (r["mean_column_count"], r["max_column_count"]) == (4, 4)
    assert r["droppable_tombstones"] == 5  # strict < GC_BEFORE
    assert (r["min_clustering"], r["max_clustering"]) == ("aa", "zz")
    assert (r["total_columns_set"], r["total_rows"]) == (17, 11)


def test_values_come_from_the_file_not_parquet(spark, sf_dir, tmp_path):
    """Differential: copy the fixture tree, rewrite ONE Statistics.db with
    a planted wrong level, and assert the query output moves with the FILE
    -- proving the data path reads the binary component, not a parquet
    shortcut."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    copy = str(tmp_path / "copy")
    shutil.copytree(root, copy)
    victims = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(copy)
        for f in fs
        if f.endswith("-Statistics.db")
    )
    assert victims, "fixture tree has no Statistics.db files"
    target = victims[0]
    ver = os.path.basename(target).split("-")[0]
    st = parse_statistics_db(open(target, "rb").read(), ver, target)
    st.level = st.level + 7
    with open(target, "wb") as f:
        f.write(encode_statistics_db(st, ver))
    before = {
        (r["keyspace"], r["table_name"], r["sstable_id"]): r["level"]
        for r in statistics_metadata(spark, root).collect()
    }
    after = {
        (r["keyspace"], r["table_name"], r["sstable_id"]): r["level"]
        for r in statistics_metadata(spark, copy).collect()
    }
    moved = {k for k in before if before[k] != after[k]}
    assert len(moved) == 1
    k = moved.pop()
    assert after[k] == before[k] + 7


def test_cassdir_queries_match_oracle(spark, sf_dir):
    """Scoped driver-flow check (value + int-vs-float dtype, the driver's
    hash sensitivity) for both registered Statistics.db queries."""
    import duckdb
    import pandas as pd

    from cassandra_sstable_tools_spark.sources import statistics_db as m

    con = duckdb.connect()
    for t in ["lineitem"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    for name, fn in m.QUERIES.items():
        got = fn(spark, sf_dir).toPandas()
        exp = con.execute(m.ORACLES[name]).fetchdf()
        cols = sorted(got.columns)
        g = got[cols].sort_values(by=cols).reset_index(drop=True)
        e = exp[cols].sort_values(by=cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            g, e, check_dtype=False, check_exact=True
        )
        assert len(g) > 0, f"{name}: vacuous certificate"
        drift = [
            c for c in cols
            if pd.api.types.is_float_dtype(g[c])
            != pd.api.types.is_float_dtype(e[c])
        ]
        assert not drift, f"{name}: int-vs-float dtype drift {drift}"


def test_compression_ratio_marks_planted_compressed_subset(spark, sf_dir):
    """The parsed compressionRatio must agree with the fixture's
    CompressionInfo.db planting: ratio 0.6 exactly where a sibling
    CompressionInfo.db exists, -1.0 (Cassandra's NO_COMPRESSION_RATIO)
    elsewhere."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    have_comp = set()
    for dp, _, fs in os.walk(root):
        for f in fs:
            if f.endswith("-CompressionInfo.db"):
                have_comp.add(os.path.join(dp, f.replace(
                    "-CompressionInfo.db", ""
                )))
    rows = statistics_metadata(spark, root).collect()
    assert rows
    for r in rows:
        path = os.path.join(
            root, r["keyspace"], r["table_name"], f"nb-{r['sstable_id']}-big"
        )
        expect = 0.6 if path in have_comp else -1.0
        assert r["compression_ratio"] == expect, (path, r["compression_ratio"])


def test_full_listing_data_scan_stays_metadata_only(spark, sf_dir):
    """The full directory listing reads Data.db METADATA only (length +
    modificationTime); Data.db contents must never enter the plan -- a
    content read would ship every data byte through an executor to look
    up a timestamp. Content-reading scans in the plan are exactly the
    tiny-component ones (CompressionInfo.db + Statistics.db)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        directory_sstables_listing,
    )

    root = materialize_index_files(spark, sf_dir)
    plan = (
        directory_sstables_listing(spark, root, file_timestamp=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "content" in line and "Data.db" in line:
            raise AssertionError(f"Data.db content entered the plan: {line}")


def test_has_statistics_files_detection(spark, sf_dir, tmp_path):
    """``statistics_coverage`` tells a tree with Statistics.db components
    from one without any (the CLI's reduced-listing / summary-error
    switch)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        statistics_coverage,
    )

    root = materialize_index_files(spark, sf_dir)
    assert statistics_coverage(spark, root)[1] > 0
    nostats = str(tmp_path / "tree")
    shutil.copytree(root, nostats)
    for dp, _, fs in os.walk(nostats):
        for f in fs:
            if f.endswith("-Statistics.db"):
                os.remove(os.path.join(dp, f))
    assert statistics_coverage(spark, nostats)[1] == 0


def test_cli_scoping_applies_to_directory_listings(spark, sf_dir, capsys):
    """--keyspace/--table narrow the full sstables listing and the summary
    in --cassandra-dir mode (root narrowing when both given, a table_name
    predicate when --table comes alone)."""
    import contextlib
    import io

    from cassandra_sstable_tools_spark.__main__ import main
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)

    def run(argv):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert main([*argv, "--sf-dir", sf_dir, "-b"], spark=spark) == 0
        return buf.getvalue()

    full = run(["sstables", "--cassandra-dir", root])
    assert "tab_lcs" in full and "tab_stcs" in full
    scoped = run(["sstables", "--cassandra-dir", root,
                  "--keyspace", "ks1", "--table", "tab_lcs"])
    assert "tab_lcs" in scoped and "tab_stcs" not in scoped
    table_only = run(["sstables", "--cassandra-dir", root,
                      "--table", "tab_twcs"])
    assert "tab_twcs" in table_only and "tab_lcs" not in table_only
    summary_scoped = run(["summary", "--cassandra-dir", root,
                          "--keyspace", "ks1", "--table", "tab_stcs"])
    assert "tab_stcs" in summary_scoped and "tab_lcs" not in summary_scoped


def test_garbage_bytes_never_leak_raw_errors():
    """Random garbage must surface as the loud ValueError contract --
    never a struct.error / IndexError / MemoryError from the guts."""
    rng = random.Random(7)
    ok = 0
    for _ in range(500):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        try:
            parse_statistics_db(blob, "nb", source="fuzz")
            ok += 1  # structurally-valid-by-luck is acceptable
        except ValueError:
            pass
    # sanity: random bytes virtually never parse
    assert ok <= 2


def test_clustering_display_non_text_values():
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        _clustering_display,
    )

    assert _clustering_display([]) is None
    assert _clustering_display([b"abc"]) == "abc"
    # timestamp/uuid-style raw bytes must render as hex, never crash
    assert _clustering_display([b"\xff\xfe\x00\x01"]) == "0xfffe0001"
    assert _clustering_display([b"ab", b"\xff"]) == "ab,0xff"


def test_non_text_clustering_survives_the_scan(spark, tmp_path):
    """A real-world schema with a timestamp clustering column stores raw
    8-byte values in min/maxClusteringValues; the listing must render
    them, not die in an executor (review finding)."""
    st = SSTableStats(
        min_timestamp=1, max_timestamp=2,
        min_clustering=[struct.pack(">q", 1699000000000)],
        max_clustering=[struct.pack(">q", 1700000000000), b"txt"],
    )
    r = statistics_metadata(spark, _plant_tree(tmp_path, "nb", st)).collect()
    assert len(r) == 1
    assert r[0]["min_clustering"] == "0x" + struct.pack(">q", 1699000000000).hex()
    assert r[0]["max_clustering"].endswith(",txt")


def test_misaligned_boolean_byte_is_loud():
    """A non-0/1 byte where hasLegacyCounterShards belongs = field-stream
    misalignment (e.g. an undocumented layout change); must fail loud."""
    blob = bytearray(encode_statistics_db(SSTableStats(total_rows=3), "ma"))
    # 'ma' stats end exactly at ...[bool][totalColumnsSet][totalRows];
    # the bool byte sits 17 bytes from the end of the STATS component.
    n = struct.unpack(">i", blob[:4])[0]
    toc = {struct.unpack(">i", blob[4 + 8 * i: 8 + 8 * i])[0]:
           struct.unpack(">i", blob[8 + 8 * i: 12 + 8 * i])[0]
           for i in range(n)}
    stats_off = toc[2]
    header_off = toc[3]
    bool_off = header_off - 17
    assert blob[bool_off] in (0, 1)
    blob[bool_off] = 7
    with pytest.raises(ValueError, match="non-boolean byte 7"):
        parse_statistics_db(bytes(blob), "ma", source="planted")


def _strip_statistics(src_root: str, dst: str, keep_all_but: int = 0) -> str:
    """Copy the fixture tree, removing Statistics.db files: all of them
    (keep_all_but=0 removes every one) or just the first N alphabetical."""
    shutil.copytree(src_root, dst)
    victims = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(dst)
        for f in fs
        if f.endswith("-Statistics.db")
    )
    for path in victims[keep_all_but:] if keep_all_but else victims:
        os.remove(path)
    return dst


def test_partial_statistics_warns_and_f_probe_respects_selection(
    spark, sf_dir, tmp_path, capsys
):
    """Review findings: (a) a directory where ONE sstable lost its
    Statistics.db must WARN about the omission, not silently under-report;
    (b) a -f selecting only stats-less sstables must take the reduced
    listing, not print an empty full listing."""
    import contextlib
    import io

    from cassandra_sstable_tools_spark.__main__ import main
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    partial = str(tmp_path / "partial")
    shutil.copytree(root, partial)
    victims = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(partial)
        for f in fs
        if f.endswith("-Statistics.db")
    )
    # -f matches by FILENAME and the fixture's sstable ids repeat across
    # tables, so strip the chosen basename from EVERY table to make the
    # -f selection exclusively stats-less
    stripped = os.path.basename(victims[0])
    removed = [v for v in victims if os.path.basename(v) == stripped]
    for v in removed:
        os.remove(v)
    data_name = stripped.replace("-Statistics.db", "-Data.db")
    n_selected = len(removed)

    buf = io.StringIO()
    capsys.readouterr()
    with contextlib.redirect_stdout(buf):
        rc = main(["sstables", "--cassandra-dir", partial,
                   "--sf-dir", sf_dir, "-b"], spark=spark)
    assert rc == 0
    err = capsys.readouterr().err
    assert "have no Statistics.db and are omitted" in err
    assert "min_timestamp" in buf.getvalue()  # full listing ran

    # -f selecting ONLY the stats-less sstable -> reduced listing
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["sstables", "--cassandra-dir", partial, "-f", data_name,
                   "--sf-dir", sf_dir, "-b"], spark=spark)
    assert rc == 0
    text = buf.getvalue()
    assert "min_timestamp" not in text  # reduced columns
    # exactly the selected same-name sstables (one per table)
    assert text.count("\n|") - 1 == n_selected


def test_summary_cassdir_without_statistics_is_loud(
    spark, sf_dir, tmp_path, capsys
):
    """Review finding: summary --cassandra-dir on a stats-less directory
    must fail rc=2 with a named reason, never print an empty table."""
    from cassandra_sstable_tools_spark.__main__ import main
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    nostats = _strip_statistics(root, str(tmp_path / "nostats"))
    assert main(["summary", "--cassandra-dir", nostats,
                 "--sf-dir", sf_dir, "-b"], spark=spark) == 2
    assert "needs Statistics.db" in capsys.readouterr().err


# --------------------------------------------------------------------------
# SerializationHeader component (r08): round-trip + fuzz
# --------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from cassandra_sstable_tools_spark.sources.statistics_db import (
    ENC_DELETION_TIME_EPOCH,
    ENC_TIMESTAMP_EPOCH,
    SerializationHeaderInfo,
    parse_serialization_header,
)

_TYPE_NAMES = st.sampled_from([
    "org.apache.cassandra.db.marshal.UTF8Type",
    "org.apache.cassandra.db.marshal.LongType",
    "org.apache.cassandra.db.marshal.Int32Type",
    "org.apache.cassandra.db.marshal.CounterColumnType",
    "org.apache.cassandra.db.marshal.BytesType",
])
_COLS = st.lists(
    st.tuples(st.text("abcdefghij_0123456789", min_size=1, max_size=20),
              _TYPE_NAMES),
    min_size=0, max_size=12, unique_by=lambda t: t[0],
)


@settings(max_examples=80, deadline=None)
@given(
    # pre- and post-epoch timestamps: negative deltas take the 9-byte vint
    st.integers(min_value=1, max_value=3 * ENC_TIMESTAMP_EPOCH),
    st.integers(min_value=1, max_value=3 * ENC_DELETION_TIME_EPOCH),
    st.integers(min_value=0, max_value=630_720_000),
    st.lists(_TYPE_NAMES, min_size=0, max_size=4),
    _COLS, _COLS,
    st.sampled_from(["ma", "mc", "nb", "nc"]),
)
def test_serialization_header_roundtrip_fuzz(
    min_ts, min_ldt, min_ttl, clustering, statics, regulars, version
):
    h = SerializationHeaderInfo(
        min_timestamp=min_ts,
        min_local_deletion_time=min_ldt,
        min_ttl=min_ttl,
        clustering_types=clustering,
        static_columns=statics,
        regular_columns=regulars,
    )
    blob = encode_statistics_db(SSTableStats(), version=version, header=h)
    assert parse_serialization_header(blob, version=version) == h


def test_clustering_display_typed():
    """min/max clustering values render via the header's clustering types
    when available (validator display); the heuristic remains for
    header-less sstables."""
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        LONG_TYPE,
        UTF8_TYPE,
        _clustering_display,
    )

    long42 = (42).to_bytes(8, "big", signed=True)
    assert _clustering_display([long42], [LONG_TYPE]) == "42"
    assert _clustering_display([b"abc", long42],
                               [UTF8_TYPE, LONG_TYPE]) == "abc,42"
    # no types: the historical bare-UTF-8 heuristic (unchanged -- goldens
    # pin it); a serialized long decodes as control chars there, which is
    # exactly why the typed path above is the upgrade
    assert _clustering_display([long42]) == long42.decode()
    assert _clustering_display([]) is None
