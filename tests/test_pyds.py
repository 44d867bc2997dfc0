"""The Python DataSource packaging (sources/pyds.py): batch reads equal
``data_cells`` bit-for-bit, pushdown prunes at PLANNING time without ever
changing results, and the stream tails a live directory exactly once per
sstable across restarts."""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pytest

from cassandra_sstable_tools_spark.sources.data_cells import data_cells
from cassandra_sstable_tools_spark.sources.pyds import (
    CassandraSSTableDataSource,
    SSTableCellPushdownReader,
    SSTableCellReader,
    _gen_key,
    list_sstables,
    register,
)
from cassandra_sstable_tools_spark.sources.sstable_binary import (
    materialize_index_files,
)

from tests.test_lookup import _plant_sstable


@pytest.fixture(scope="module")
def cass_root(spark, sf_dir):
    return materialize_index_files(spark, sf_dir)


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def _read(spark, root, **opts):
    r = spark.read.format("cassandra-sstable")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(root)


# -- batch ---------------------------------------------------------------


def test_batch_read_equals_data_cells(registered, cass_root):
    got = _norm(_read(registered, cass_root).toPandas())
    exp = _norm(data_cells(registered, cass_root).toPandas())
    pd.testing.assert_frame_equal(got, exp)


def test_sharded_read_is_shard_invariant(registered, cass_root):
    got = _norm(
        _read(registered, cass_root, shards_per_sstable="3").toPandas()
    )
    exp = _norm(data_cells(registered, cass_root).toPandas())
    pd.testing.assert_frame_equal(got, exp)


def test_files_option_matches_minus_f_semantics(registered, cass_root):
    one = os.path.basename(
        sorted(glob.glob(f"{cass_root}/*/*/*-Data.db"))[0]
    )
    got = _norm(_read(registered, cass_root, files=one).toPandas())
    exp = _norm(data_cells(registered, cass_root, filenames=[one]).toPandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, exp)


def test_bad_roots_are_loud(registered, tmp_path):
    with pytest.raises(Exception, match="not a directory"):
        SSTableCellReader({"path": str(tmp_path / "nope")}).partitions()
    with pytest.raises(Exception, match="cannot open root"):
        SSTableCellReader({"path": "s3a://bucket/x"}).partitions()
    with pytest.raises(Exception, match="needs a path"):
        SSTableCellReader({})
    with pytest.raises(Exception, match="shards_per_sstable"):
        SSTableCellReader({"path": str(tmp_path), "shards_per_sstable": "0"})


def test_snapshots_and_backups_excluded(registered, cass_root, tmp_path):
    root = str(tmp_path / "tree")
    src = list_sstables(cass_root)[0]
    ks, tb = src["keyspace"], src["table_name"]
    base = src["path"][: -len("Index.db")]
    live = f"{root}/{ks}/{tb}"
    snap = f"{root}/{ks}/{tb}/snapshots/tag1"
    os.makedirs(live)
    os.makedirs(snap)
    for comp in glob.glob(base + "*"):
        shutil.copy(comp, live)
        shutil.copy(comp, snap)  # would double-count if listed
    rows = list_sstables(root)
    assert len(rows) == 1 and "/snapshots/" not in rows[0]["path"]
    got = _read(registered, root).count()
    exp = data_cells(registered, root).count()
    assert got == exp > 0


# -- pushdown planning (driver-side unit surface) ------------------------


def test_prune_columns_cut_partitions(cass_root):
    from pyspark.sql.datasource import EqualTo, In

    all_rows = list_sstables(cass_root)
    tables = sorted({r["table_name"] for r in all_rows})
    assert len(tables) >= 2
    r = SSTableCellPushdownReader({"path": cass_root})
    returned = r.pushFilters([EqualTo(("table_name",), tables[0])])
    assert list(returned) != []  # pruning-only: every filter handed back
    pruned = [p for p in r.partitions() if p.path]
    assert 0 < len(pruned) < len(all_rows)
    assert all(f"/{tables[0]}/" in p.path for p in pruned)

    r2 = SSTableCellPushdownReader({"path": cass_root})
    r2.pushFilters(
        [In(("table_name",), (tables[0], tables[1])),
         EqualTo(("table_name",), tables[0])]
    )
    assert len([p for p in r2.partitions() if p.path]) == len(pruned)

    # contradictory equalities -> zero real partitions, no file opened
    r3 = SSTableCellPushdownReader({"path": cass_root})
    r3.pushFilters(
        [EqualTo(("table_name",), tables[0]),
         EqualTo(("table_name",), tables[1])]
    )
    assert [p for p in r3.partitions() if p.path] == []


def test_bloom_prune_drops_absent_key_sstables(registered, cass_root):
    from pyspark.sql.datasource import EqualTo

    n_sstables = len(list_sstables(cass_root))
    r = SSTableCellPushdownReader({"path": cass_root})
    r.pushFilters([EqualTo(("partition_key",), "no_such_key_xyz")])
    survivors = [p for p in r.partitions() if p.path]
    # bloom FPs may keep a straggler, but the point-read planning must
    # beat opening every sstable
    assert len(survivors) < n_sstables
    for p in survivors:
        assert p.keys  # point-read mode, not full scan


def test_point_read_results_equal_full_scan_filter(registered, cass_root):
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    base = data_cells(registered, cass_root)
    keys = [
        r.partition_key
        for r in base.select("partition_key").distinct().limit(3).collect()
    ]
    df = _read(registered, cass_root, pushdown="true")
    got = _norm(df.where(df.partition_key == keys[0]).toPandas())
    exp = _norm(base.where(base.partition_key == keys[0]).toPandas())
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, exp)

    got_in = _norm(df.where(df.partition_key.isin(keys)).toPandas())
    exp_in = _norm(base.where(base.partition_key.isin(keys)).toPandas())
    pd.testing.assert_frame_equal(got_in, exp_in)

    assert df.where(df.partition_key == "no_such_key_xyz").count() == 0
    # composed with a prune column
    got_c = _norm(
        df.where(
            (df.partition_key == keys[0]) & (df.keyspace == "ks1")
        ).toPandas()
    )
    exp_c = _norm(
        base.where(
            (base.partition_key == keys[0]) & (base.keyspace == "ks1")
        ).toPandas()
    )
    pd.testing.assert_frame_equal(got_c, exp_c)


def test_pushdown_option_without_conf_is_loud(registered, cass_root):
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        with pytest.raises(Exception, match="filterPushdown"):
            _read(registered, cass_root, pushdown="true").collect()
        # the default reader keeps working in the same session
        assert _read(registered, cass_root).count() > 0
    finally:
        registered.conf.set(
            "spark.sql.python.filterPushdown.enabled", "true"
        )


def test_hex_looking_literal_probes_both_encodings(registered, spark,
                                                   tmp_path):
    """A key whose DISPLAY is a 0x-hex render: the literal is
    encoding-ambiguous (raw bytes vs a text key that looks like hex), so
    planning probes both candidates; the sstable's own validator
    rendering keeps only the faithful one."""
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    part = "org.apache.cassandra.dht.ByteOrderedPartitioner"
    keys = [bytes([1, i]) for i in range(8)]  # control bytes -> hex render
    _plant_sstable(tmp_path, part, keys=keys, deleted_key=keys[2])
    root = str(tmp_path)
    base = data_cells(registered, root)
    lit = "0x0102"  # keys[2]'s render
    df = _read(registered, root, pushdown="true")
    got = _norm(df.where(df.partition_key == lit).toPandas())
    exp = _norm(base.where(base.partition_key == lit).toPandas())
    assert list(got["kind"]) == ["PARTITION_DELETE"]
    pd.testing.assert_frame_equal(got, exp)


def test_unfaithful_key_type_falls_back_to_scan(registered, tmp_path):
    """option('key_type','long') against a UTF8-validated sstable: the
    8-byte encoding cannot render back to '302' under the sstable's own
    validator, so the partition falls back to a FULL scan and Spark's
    re-applied equality yields the same (empty) result the data_cells
    frame gives -- pruning never invents or drops rows."""
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    part = "org.apache.cassandra.dht.ByteOrderedPartitioner"
    _plant_sstable(tmp_path, part)  # UTF8-rendered text keys k00..k11
    root = str(tmp_path)
    df = _read(registered, root, pushdown="true", key_type="long")
    base = data_cells(registered, root)
    assert (
        df.where(df.partition_key == "302").count()
        == base.where(base.partition_key == "302").count()
        == 0
    )
    # and an unfiltered read through the same reader still decodes all
    assert df.count() == base.count() > 0


def test_typed_point_read_through_header_validator(registered, tmp_path):
    """A LongType-validated sstable renders keys numerically; a typed
    point read (option key_type=long) must hit through the bloom ->
    summary -> index-window path with the 8-byte encoding."""
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        SerializationHeaderInfo,
        SSTableStats,
        encode_statistics_db,
    )

    part = "org.apache.cassandra.dht.ByteOrderedPartitioner"
    keys = [(300 + i).to_bytes(8, "big", signed=True) for i in range(12)]
    _plant_sstable(tmp_path, part, keys=keys, deleted_key=keys[2])
    # re-declare the key validator as LongType in the sstable's own header
    stats_path = glob.glob(f"{tmp_path}/*/*/*-Statistics.db")[0]
    with open(stats_path, "wb") as f:
        f.write(
            encode_statistics_db(
                SSTableStats(partitioner=part, min_timestamp=1),
                version="nb",
                header=SerializationHeaderInfo(
                    key_type="org.apache.cassandra.db.marshal.LongType"
                ),
            )
        )
    root = str(tmp_path)
    base = data_cells(registered, root)
    assert "302" in {
        r.partition_key for r in base.select("partition_key").collect()
    }
    df = _read(registered, root, pushdown="true", key_type="long")
    got = df.where(df.partition_key == "302").toPandas()
    assert list(got["kind"]) == ["PARTITION_DELETE"]
    assert df.where(df.partition_key == "999").count() == 0


# -- stream --------------------------------------------------------------


def _copy_gen(src_table_dir: str, dst_table_dir: str, gen: str) -> None:
    for c in glob.glob(f"{src_table_dir}/*-{gen}-big-*"):
        shutil.copy(c, dst_table_dir)


def test_gen_key_orders_int_and_ulid_generations():
    assert _gen_key("9") < _gen_key("10")  # numeric, not lexical
    assert _gen_key("2") < _gen_key("0010")
    # ULID-style ids are lexicographically time-ordered
    assert _gen_key("3fw2apox5kkbv1h0p3") < _gen_key("3fw2apoz0000000000")
    # migration int -> ULID keeps moving forward
    assert _gen_key("99999") < _gen_key("3fw2apox5kkbv1h0p3")


def test_stream_tails_new_sstables_exactly_once(
    registered, cass_root, tmp_path
):
    src = sorted(glob.glob(f"{cass_root}/*/*"))[0]
    ks, tb = src.split("/")[-2:]
    live = str(tmp_path / "live")
    tdir = f"{live}/{ks}/{tb}"
    os.makedirs(tdir)
    gens = sorted(
        {os.path.basename(c).split("-")[1] for c in glob.glob(f"{src}/*")}
    )
    assert len(gens) >= 2
    _copy_gen(src, tdir, gens[0])

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        registered.readStream.format("cassandra-sstable").load(live)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = registered.read.parquet(out).count()
        exp1 = data_cells(registered, live).count()
        assert n1 == exp1 > 0
        _copy_gen(src, tdir, gens[1])
        q.processAllAvailable()
        n2 = registered.read.parquet(out).count()
        exp2 = data_cells(registered, live).count()
        assert n2 == exp2 > n1
    finally:
        q.stop()

    # restart from the checkpoint: nothing replays (exactly-once over
    # the committed watermark), new arrivals still flow
    q2 = (
        registered.readStream.format("cassandra-sstable").load(live)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q2.processAllAvailable()
        assert registered.read.parquet(out).count() == n2
        _copy_gen(src, tdir, gens[2])
        q2.processAllAvailable()
        assert (
            registered.read.parquet(out).count()
            == data_cells(registered, live).count()
        )
    finally:
        q2.stop()


def test_stream_starting_offsets_latest_skips_existing(
    registered, cass_root, tmp_path
):
    src = sorted(glob.glob(f"{cass_root}/*/*"))[0]
    ks, tb = src.split("/")[-2:]
    live = str(tmp_path / "live")
    tdir = f"{live}/{ks}/{tb}"
    os.makedirs(tdir)
    gens = sorted(
        {os.path.basename(c).split("-")[1] for c in glob.glob(f"{src}/*")}
    )
    _copy_gen(src, tdir, gens[0])
    out = str(tmp_path / "out")
    q = (
        registered.readStream.format("cassandra-sstable")
        .option("startingOffsets", "latest")
        .load(live)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = registered.read.parquet(out).count()
        assert n1 == 0  # pre-existing sstable skipped
        _copy_gen(src, tdir, gens[1])
        q.processAllAvailable()
        only_new = data_cells(
            registered, live,
        ).where(f"sstable_id = '{gens[1]}'").count()
        assert registered.read.parquet(out).count() == only_new > 0
    finally:
        q.stop()


def test_stream_ignores_incomplete_flushes(registered, cass_root, tmp_path):
    """An sstable missing the components decode needs (here
    Statistics.db) stays INVISIBLE to the stream; once the component
    lands, the sstable flows through the next batch."""
    src = sorted(glob.glob(f"{cass_root}/*/*"))[0]
    ks, tb = src.split("/")[-2:]
    live = str(tmp_path / "live")
    tdir = f"{live}/{ks}/{tb}"
    os.makedirs(tdir)
    gens = sorted(
        {os.path.basename(c).split("-")[1] for c in glob.glob(f"{src}/*")}
    )
    for c in glob.glob(f"{src}/*-{gens[0]}-big-*"):
        if not c.endswith("Statistics.db"):
            shutil.copy(c, tdir)
    out = str(tmp_path / "out")
    q = (
        registered.readStream.format("cassandra-sstable").load(live)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert registered.read.parquet(out).count() == 0
        shutil.copy(f"{src}/" + os.path.basename(glob.glob(
            f"{src}/*-{gens[0]}-big-Statistics.db")[0]), tdir)
        q.processAllAvailable()
        assert (
            registered.read.parquet(out).count()
            == data_cells(registered, live).count()
            > 0
        )
    finally:
        q.stop()


def test_format_registration_and_schema(registered):
    assert CassandraSSTableDataSource.name() == "cassandra-sstable"
    from cassandra_sstable_tools_spark.sources.data_cells import (
        DATA_CELLS_SCHEMA,
    )

    assert CassandraSSTableDataSource(
        {"path": "/tmp"}
    ).schema() == DATA_CELLS_SCHEMA


def test_range_pushdown_matches_full_scan_filter(registered, cass_root):
    """BETWEEN / >= / < on partition_key with pushdown: planning emits
    span partitions (summary-floored range scans per sstable), results
    equal the full-scan filter exactly."""
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    base = data_cells(registered, cass_root)
    keys = sorted(
        r.partition_key
        for r in base.select("partition_key").distinct().limit(200).collect()
    )
    lo, hi = keys[20], keys[150]
    df = _read(registered, cass_root, pushdown="true")
    for pred_df, pred_base in [
        (df.partition_key.between(lo, hi),
         base.partition_key.between(lo, hi)),
        ((df.partition_key >= lo) & (df.partition_key < hi),
         (base.partition_key >= lo) & (base.partition_key < hi)),
        (df.partition_key > hi, base.partition_key > hi),
        (df.partition_key <= lo, base.partition_key <= lo),
    ]:
        got = _norm(df.where(pred_df).toPandas())
        exp = _norm(base.where(pred_base).toPandas())
        assert len(exp) > 0
        pd.testing.assert_frame_equal(got, exp)
    # planning-level: spans present, not full scans
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    r = SSTableCellPushdownReader({"path": cass_root})
    r.pushFilters([GreaterThanOrEqual(("partition_key",), lo),
                   LessThanOrEqual(("partition_key",), hi)])
    parts = [p for p in r.partitions() if p.path]
    assert parts and all(p.spans for p in parts)
    # empty string-range -> no real partitions
    r2 = SSTableCellPushdownReader({"path": cass_root})
    r2.pushFilters([GreaterThanOrEqual(("partition_key",), "zz"),
                    LessThanOrEqual(("partition_key",), "aa")])
    assert [p for p in r2.partitions() if p.path] == []


def test_range_pushdown_with_typed_key_option_falls_back(
    registered, cass_root
):
    """option('key_type','long') renders don't order like their bytes:
    planning must keep the full scan (no span partitions)."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    r = SSTableCellPushdownReader(
        {"path": cass_root, "key_type": "long"}
    )
    r.pushFilters([GreaterThanOrEqual(("partition_key",), "300")])
    parts = [p for p in r.partitions() if p.path]
    assert parts and all(p.spans is None for p in parts)


def test_range_spans_never_under_cover():
    """Randomized coverage differential: for arbitrary key bytes and
    arbitrary string bounds, every key whose RENDERED form satisfies the
    string range lies inside some emitted byte span -- the pushdown
    safety contract (over-coverage is fine; Spark re-applies)."""
    import random

    from cassandra_sstable_tools_spark.sources.pyds import _range_spans
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        render_key,
    )

    rng = random.Random(20260816)
    pool: list[bytes] = [
        # long runs of 0xff after a short prefix: the ceil-pad width
        # regression (a 64-byte pad under-covered 65+ trailing 0xff)
        b"\xff" * 70,
        b"\x61" + b"\xff" * 80,
        bytes.fromhex("0102") + b"\xff" * 66,
    ]
    for _ in range(300):
        n = rng.randint(1, 12)
        if rng.random() < 0.5:
            pool.append(bytes(rng.randrange(256) for _ in range(n)))
        else:
            pool.append(
                "".join(
                    rng.choice("0123456789abcdefxyzABC _-")
                    for _ in range(n)
                ).encode("utf-8")
            )
    renders = [(kb, render_key(kb)) for kb in pool]
    bound_pool = [r for _, r in renders] + [
        "0x", "0y", "0x61", "0xzz", "a", "zz", "", "0x0102030405", "0",
        "0xg", "0x61g", "0x2eC6Ae",  # bounds leaving the render alphabet
    ]
    for _ in range(500):
        lo = rng.choice(bound_pool) if rng.random() < 0.8 else None
        hi = rng.choice(bound_pool) if rng.random() < 0.8 else None
        spans = _range_spans(lo, hi)
        for kb, r in renders:
            if (lo is None or r >= lo) and (hi is None or r <= hi):
                assert any(s0 <= kb <= s1 for s0, s1 in spans), (
                    f"under-cover: key {kb!r} render {r!r} "
                    f"bounds ({lo!r}, {hi!r}) spans {spans!r}"
                )
        # and spans are disjoint (no double-emit)
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 < b0


def test_range_pushdown_falls_back_on_typed_header_validator(
    registered, tmp_path
):
    """A tree whose OWN header declares a typed key validator renders
    (and string-compares) keys in an order unrelated to their bytes --
    the span reader must full-scan it (review finding: the typed check
    gated only on the reader OPTION, not the sstable's header)."""
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    pdf = pd.DataFrame(
        {
            "partition_key": [str(n) for n in (90, 300, 1000, 2500)],
            "kind": ["CELL"] * 4,
            "clustering": [f"r{i}" for i in range(4)],
            "column_name": ["c0"] * 4,
            "cell_path": [None] * 4,
            "writetime": pd.array([1, 2, 3, 4], dtype="Int64"),
            "ttl": pd.array([None] * 4, dtype="Int32"),
            "local_deletion_time": pd.array([None] * 4, dtype="Int64"),
            "is_tombstone": [False] * 4,
            "is_expiring": [False] * 4,
            "is_counter": [False] * 4,
            "cell_value": pd.array([1, 2, 3, 4], dtype="Int64"),
            "range_start": [None] * 4,
            "range_end": [None] * 4,
        }
    )
    out = str(tmp_path / "typed")
    (
        registered.createDataFrame(pdf).coalesce(1)
        .write.format("cassandra-sstable")
        .option("keyspace", "tks").option("table", "ttb")
        .option("key_type", "long")
        .mode("append").save(out)
    )
    df = _read(registered, out, pushdown="true")
    base = data_cells(registered, out)
    # '1000' >= '300' is FALSE in string order; the decimal renders that
    # DO satisfy the predicate ('300', '90') have byte encodings the span
    # math cannot model -- only the header-validator fallback returns them
    got = _norm(df.where(df.partition_key >= "300").toPandas())
    exp = _norm(base.where(base.partition_key >= "300").toPandas())
    assert set(exp.partition_key) == {"300", "90"}
    pd.testing.assert_frame_equal(got, exp)


def test_byte_bounded_auto_splits(registered, cass_root):
    """Without an explicit shards_per_sstable, planning splits each
    sstable by Data.db bytes (target_split_bytes, FileScan-style):
    a small target multiplies tasks, results stay bit-identical."""
    r = SSTableCellReader(
        {"path": cass_root, "target_split_bytes": str(1 << 20)}
    )
    parts = [p for p in r.partitions() if p.path]
    n_files = len(list_sstables(cass_root))
    assert len(parts) > n_files  # fixture Data.db files exceed 1 MiB
    by_file: dict[str, int] = {}
    for p in parts:
        by_file[p.path] = p.n_shards
        assert 1 <= p.n_shards <= 256
    assert any(k > 1 for k in by_file.values())

    got = _norm(
        _read(registered, cass_root, target_split_bytes=str(1 << 20))
        .toPandas()
    )
    exp = _norm(data_cells(registered, cass_root).toPandas())
    pd.testing.assert_frame_equal(got, exp)

    with pytest.raises(Exception, match="target_split_bytes"):
        SSTableCellReader(
            {"path": cass_root, "target_split_bytes": "1000"}
        ).partitions()


def test_spark_read_splits_at_the_fixed_default(registered, tmp_path):
    """``spark.read`` plans in its own Python process, where no session
    is active, so a scan without ``target_split_bytes`` splits at the
    fixed 256 MiB default: a 64 MiB Data.db plans one task, where the
    core-filling rule at this session's parallelism would cut it into
    several."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        auto_split_bytes,
    )

    _plant_sstable(
        tmp_path, "org.apache.cassandra.dht.ByteOrderedPartitioner"
    )
    (data,) = glob.glob(f"{tmp_path}/**/*-Data.db", recursive=True)
    os.truncate(data, 64 << 20)  # sparse: planning reads only the listing
    cores = registered.sparkContext.defaultParallelism
    assert auto_split_bytes(64 << 20, cores) < 64 << 20
    df = _read(registered, str(tmp_path))
    assert df.rdd.getNumPartitions() == 1


# --------------------------------------------------------------------------
# r10: unparseable typed literals, planning-I/O threshold, late-finalizing
# generations
# --------------------------------------------------------------------------


def test_unparseable_typed_literal_returns_empty(registered, cass_root):
    """partition_key = 'abc' under key_type=long: the literal cannot
    equal any typed render, so pushdown planning yields zero candidates
    (and zero rows) instead of crashing with the encoder's ValueError --
    the same query without pushdown returns zero rows (r09 advice)."""
    from cassandra_sstable_tools_spark.sources.pyds import _key_candidates

    assert _key_candidates("not-a-long", "long") == []
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        registered.read.format("cassandra-sstable")
        .option("pushdown", "true")
        .option("key_type", "long")
        .load(cass_root)
    )
    assert df.where(df.partition_key == "not-a-long").count() == 0


def test_bloom_prune_threshold_bounds_planning_io(registered, cass_root):
    """Planning reads Filter.db per surviving sstable only BELOW
    bloom_prune_max_files; above it, planning does zero filter reads and
    every sstable plans a point-read task (tasks bloom-check instead) --
    results identical either way (r09 verdict #6)."""
    from pyspark.sql.datasource import EqualTo

    from cassandra_sstable_tools_spark.sources.pyds import PLANNING_AUDIT

    n = len([r for r in list_sstables(cass_root)])
    key = data_cells(registered, cass_root).select(
        "partition_key").first().partition_key

    PLANNING_AUDIT["filter_reads"] = 0
    r = SSTableCellPushdownReader({"path": cass_root})
    r.pushFilters([EqualTo(("partition_key",), key)])
    pruned = [p for p in r.partitions() if p.path]
    assert PLANNING_AUDIT["filter_reads"] == n  # below threshold: per-file

    PLANNING_AUDIT["filter_reads"] = 0
    r2 = SSTableCellPushdownReader(
        {"path": cass_root, "bloom_prune_max_files": "1"}
    )
    r2.pushFilters([EqualTo(("partition_key",), key)])
    unpruned = [p for p in r2.partitions() if p.path]
    assert PLANNING_AUDIT["filter_reads"] == 0  # above threshold: none
    assert len(unpruned) >= len(pruned)
    for p in unpruned:
        assert p.keys  # still point-read tasks, never full scans

    # end-to-end: the thresholded plan returns identical rows
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    base = (
        registered.read.format("cassandra-sstable")
        .option("pushdown", "true").load(cass_root)
    )
    thr = (
        registered.read.format("cassandra-sstable")
        .option("pushdown", "true")
        .option("bloom_prune_max_files", "1")
        .load(cass_root)
    )
    import pandas as pd

    a = base.where(base.partition_key == key).toPandas()
    b = thr.where(thr.partition_key == key).toPandas()
    norm = lambda d: d.sort_values(by=list(d.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(norm(a), norm(b))


def test_stream_picks_up_late_finalizing_lower_generation(
    registered, cass_root, tmp_path
):
    """Flush and compaction finalize (rename) in any order: a LOWER
    generation becoming visible after a higher one advanced the
    table's watermark was permanently skipped by the r09 single-
    watermark offsets; the r10 tracked-window offsets pick it up in the
    next batch (r09 advice)."""
    from cassandra_sstable_tools_spark.sources.pyds import (
        SSTableStreamReader,
    )

    src = sorted(glob.glob(f"{cass_root}/*/*"))[0]
    ks, tb = src.split("/")[-2:]
    live = str(tmp_path / "live")
    tdir = f"{live}/{ks}/{tb}"
    os.makedirs(tdir)
    gens = sorted(
        {os.path.basename(c).split("-")[1] for c in glob.glob(f"{src}/*")}
    )
    assert len(gens) >= 2
    # the HIGHER generation finalizes first
    _copy_gen(src, tdir, gens[1])
    reader = SSTableStreamReader({"path": live})
    o1 = reader.latestOffset()
    # ... then the LOWER one appears (late-finalizing flush)
    _copy_gen(src, tdir, gens[0])
    o2 = reader.latestOffset()
    emitted = [p.path for p in reader.partitions(o1, o2) if p.path]
    assert any(f"-{gens[0]}-" in p for p in emitted)
    # and exactly once: the next (o2, o3) window does not re-emit it
    o3 = reader.latestOffset()
    again = [p.path for p in reader.partitions(o2, o3) if p.path]
    assert not again


def test_stream_legacy_watermark_offsets_still_read(tmp_path):
    """Pre-r10 checkpoints ({'w': {table: watermark}}) keep their exact
    old semantics through _claims."""
    from cassandra_sstable_tools_spark.sources.pyds import (
        SSTableStreamReader,
    )

    legacy = {"w": {"ks/tb": _gen_key("5")}}
    claims = SSTableStreamReader({"path": str(tmp_path)})._claims
    assert claims(legacy, "ks/tb", _gen_key("5"))
    assert claims(legacy, "ks/tb", _gen_key("3"))
    assert not claims(legacy, "ks/tb", _gen_key("6"))
    assert not claims(legacy, "other/t", _gen_key("1"))
    new = {"s": {"ks/tb": [_gen_key("4"), _gen_key("6")]}}
    assert claims(new, "ks/tb", _gen_key("4"))
    assert claims(new, "ks/tb", _gen_key("6"))
    assert claims(new, "ks/tb", _gen_key("2"))   # below the window floor
    assert not claims(new, "ks/tb", _gen_key("5"))  # in-window, unseen


def test_pointread_key_threshold_falls_back_to_scan(registered, cass_root):
    """Above pointread_max_keys distinct pushed keys the planner keeps
    the SCAN (per-key point reads lose to one amortized pass at large K;
    Spark re-applies the predicate, so both plans answer identically)."""
    from pyspark.sql.datasource import In

    keys = [
        r.partition_key
        for r in data_cells(registered, cass_root)
        .select("partition_key").distinct().limit(5).collect()
    ]
    r = SSTableCellPushdownReader(
        {"path": cass_root, "pointread_max_keys": "2"}
    )
    r.pushFilters([In(("partition_key",), tuple(keys))])
    parts = [p for p in r.partitions() if p.path]
    assert parts and all(p.keys is None for p in parts)  # scan mode

    r2 = SSTableCellPushdownReader({"path": cass_root})
    r2.pushFilters([In(("partition_key",), tuple(keys))])
    assert any(p.keys for p in r2.partitions() if p.path)  # point reads

    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    a = (
        registered.read.format("cassandra-sstable")
        .option("pushdown", "true")
        .option("pointread_max_keys", "2")
        .load(cass_root)
    )
    b = (
        registered.read.format("cassandra-sstable")
        .option("pushdown", "true")
        .load(cass_root)
    )
    import pandas as pd

    norm = lambda d: d.sort_values(by=list(d.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        norm(a.where(a.partition_key.isin(keys)).toPandas()),
        norm(b.where(b.partition_key.isin(keys)).toPandas()),
    )


def test_key_candidates_overrange_and_mapped_inet():
    """Planning never crashes on an unencodable typed literal (over-range
    raises OverflowError, not ValueError), and a dotted-quad inet literal
    probes BOTH its 4-byte and 16-byte IPv4-mapped encodings (Java
    renders both as the quad)."""
    from cassandra_sstable_tools_spark.sources.pyds import _key_candidates

    assert _key_candidates("300", "tinyint") == []
    assert _key_candidates("9" * 25, "long") == []
    cands = _key_candidates("192.168.0.9", "inet")
    assert bytes([192, 168, 0, 9]) in cands
    assert (b"\x00" * 10 + b"\xff\xff" + bytes([192, 168, 0, 9])) in cands


def test_stream_rescan_gens_recovers_beyond_grace_late_file(
    registered, cass_root, tmp_path
):
    """A file arriving MORE than grace_generations late falls below a
    FULL window's floor -- claimed by every offset, the documented
    residual miss. rescan_gens recovers it without checkpoint surgery,
    exactly once (r10 verdict missing #4)."""
    from cassandra_sstable_tools_spark.sources.pyds import (
        SSTableStreamReader,
    )

    src = sorted(glob.glob(f"{cass_root}/*/*"))[0]
    ks, tb = src.split("/")[-2:]
    live = str(tmp_path / "live")
    tdir = f"{live}/{ks}/{tb}"
    os.makedirs(tdir)
    gens = sorted(
        {os.path.basename(c).split("-")[1] for c in glob.glob(f"{src}/*")}
    )
    assert len(gens) >= 2
    # grace=1: the window holds only the newest generation
    _copy_gen(src, tdir, gens[1])
    reader = SSTableStreamReader({"path": live, "grace_generations": "1"})
    o1 = reader.latestOffset()
    # the LOWER generation arrives >grace late (an out-of-band refresh)
    _copy_gen(src, tdir, gens[0])
    o2 = reader.latestOffset()
    # the documented miss: the window algebra cannot see it
    assert not [p.path for p in reader.partitions(o1, o2) if p.path]

    # recovery: restart the stream with rescan_gens -- no checkpoint edit
    rescue = SSTableStreamReader({
        "path": live, "grace_generations": "1",
        "rescan_gens": f"{ks}/{tb}:*",
    })
    o3 = rescue.latestOffset()
    emitted = [p.path for p in rescue.partitions(o2, o3) if p.path]
    assert any(f"-{gens[0]}-" in p for p in emitted)
    # one-shot: the next batch does not re-emit (rr rides the offset)
    o4 = rescue.latestOffset()
    assert not [p.path for p in rescue.partitions(o3, o4) if p.path]
    # ...and removing the option afterwards stays quiet too
    plain = SSTableStreamReader({"path": live, "grace_generations": "1"})
    o5 = plain.latestOffset()
    assert not [p.path for p in plain.partitions(o4, o5) if p.path]

    # the EXACT-generation form targets one file the same way
    rescue2 = SSTableStreamReader({
        "path": live, "grace_generations": "1",
        "rescan_gens": f"{ks}/{tb}:{gens[0]}",
    })
    o6 = rescue2.latestOffset()
    emitted2 = [p.path for p in rescue2.partitions(o2, o6) if p.path]
    assert any(f"-{gens[0]}-" in p for p in emitted2)


def test_stream_rescan_gens_option_parses_loud(tmp_path):
    from cassandra_sstable_tools_spark.sources.pyds import (
        SSTableStreamReader,
        _parse_rescan_gens,
    )

    assert _parse_rescan_gens(None) == {}
    got = _parse_rescan_gens("ks/tb:*; ks/tb2: 7, 9")
    assert got["ks/tb"] == "*"
    assert got["ks/tb2"] == frozenset({_gen_key("7"), _gen_key("9")})
    import pytest as _pytest

    for bad in ["kstb:*", "ks/tb", "ks/tb:"]:
        with _pytest.raises(ValueError):
            SSTableStreamReader({"path": str(tmp_path),
                                 "rescan_gens": bad})


def test_stream_rescan_exact_gens_recovers_from_legacy_checkpoint(
    tmp_path,
):
    """A pre-r10 single-watermark checkpoint claims everything below its
    watermark, so rescan_gens must apply there too -- EXACT generations
    only ('*' cannot distinguish historical from just-processed under a
    single watermark and keeps legacy semantics)."""
    from cassandra_sstable_tools_spark.sources.pyds import (
        SSTableStreamReader,
    )

    legacy = {"w": {"ks/tb": _gen_key("50")}}
    r = SSTableStreamReader({"path": str(tmp_path),
                             "rescan_gens": "ks/tb:7"})
    assert not r._claims(legacy, "ks/tb", _gen_key("7"))   # re-emit
    assert r._claims(legacy, "ks/tb", _gen_key("8"))       # untouched
    # '*' keeps legacy claims intact (no blanket duplication)
    r2 = SSTableStreamReader({"path": str(tmp_path),
                              "rescan_gens": "ks/tb:*"})
    assert r2._claims(legacy, "ks/tb", _gen_key("7"))
    # an rr-carrying offset (the post-recovery commit) claims it again
    done = {"w": {"ks/tb": _gen_key("50")},
            "rr": {"ks/tb": [_gen_key("7")]}}
    assert r._claims(done, "ks/tb", _gen_key("7"))
