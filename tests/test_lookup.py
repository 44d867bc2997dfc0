"""Point-read path (sources/lookup.py): completeness vs the scan path,
bounded-I/O proofs, component-degradation fallbacks, a genuinely
murmur3-token-ordered sstable (comparator dispatch), and corruption
loudness (SURVEY §5 binary-format playbook)."""

import os
import shutil
import struct

import pytest

from cassandra_sstable_tools_spark.sources.lookup import (
    key_decorator,
    lookup_audit,
    partition_lookup,
)


def _all_keys(spark, sf_dir):
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    return sorted(
        r["partition_key"]
        for r in tpch_adapter.index_entries(spark, sf_dir)
        .select("partition_key")
        .distinct()
        .collect()
    )


def _tree(spark, sf_dir):
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    return materialize_index_files(spark, sf_dir)


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_lookup_of_every_key_equals_the_scan_path(spark, sf_dir):
    """Looking up ALL partition keys must reproduce the full-scan frame
    bit-for-bit: same records, same spans, nothing extra, nothing lost."""
    from cassandra_sstable_tools_spark.sources.data_cells import data_cells

    root = _tree(spark, sf_dir)
    keys = _all_keys(spark, sf_dir)
    got = _collect_sorted(partition_lookup(spark, root, keys))
    want = _collect_sorted(data_cells(spark, root))
    assert got == want and len(got) > 0


def test_found_set_matches_the_index_ground_truth(spark, sf_dir):
    from cassandra_sstable_tools_spark.sources import tpch_adapter

    root = _tree(spark, sf_dir)
    keys = _all_keys(spark, sf_dir)[:40]
    aud = lookup_audit(spark, root, keys).toPandas()
    found = {
        tuple(r)
        for r in aud[aud["found"]][
            ["keyspace", "table_name", "sstable_id", "partition_key"]
        ].values
    }
    idx = tpch_adapter.index_entries(spark, sf_dir)
    truth = {
        (r["keyspace"], r["table_name"], r["sstable_id"], r["partition_key"])
        for r in idx.where(idx.partition_key.isin(keys)).collect()
        # only cell-decodable sstables participate in lookup
        if True
    }
    from cassandra_sstable_tools_spark.sources.data_cells import (
        decodable_sstables,
    )

    dec = {
        (r["keyspace"], r["table_name"], r["sstable_id"])
        for r in decodable_sstables(spark, root).collect()
    }
    truth = {t for t in truth if t[:3] in dec}
    assert found == truth


def test_absent_key_yields_no_rows_and_no_data_io(spark, sf_dir):
    root = _tree(spark, sf_dir)
    absent = ["zzzz_not_a_key", "000000000000x"]
    assert partition_lookup(spark, root, absent).count() == 0
    aud = lookup_audit(spark, root, absent).toPandas()
    assert len(aud) > 0
    assert not aud["found"].any()
    assert (aud["data_bytes_read"] == 0).all()


def test_bloom_reject_proves_zero_index_and_data_io(spark, sf_dir):
    """The bloom filter's whole point at 100 TB: a miss costs NOTHING
    beyond the (memory-resident) filter itself."""
    root = _tree(spark, sf_dir)
    keys = _all_keys(spark, sf_dir)[:20] + ["zzzz_not_a_key"]
    aud = lookup_audit(spark, root, keys).toPandas()
    rejected = aud[aud["bloom_pass"] == False]  # noqa: E712
    assert len(rejected) > 0
    assert (rejected["index_bytes_read"] == 0).all()
    assert (rejected["data_bytes_read"] == 0).all()
    assert not rejected["found"].any()


def test_index_reads_stay_inside_one_sampling_window(spark, sf_dir):
    """Scanned lookups read one summary window (+ bounded read-ahead),
    never the index file: the I/O bound that makes a point read on a
    100 GB sstable O(KB)."""
    root = _tree(spark, sf_dir)
    keys = _all_keys(spark, sf_dir)[:4]
    # index file sizes per sstable
    sizes = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            if f.endswith("-Index.db"):
                ss = f.split("-")[1]
                tb = os.path.basename(dp)
                sizes[(tb, ss)] = os.path.getsize(os.path.join(dp, f))
    chunk = 512
    read_ahead = 2 * chunk + 64  # cursor chunking + one short-key entry
    checked = 0
    for key in keys:
        # one key per call: the SINGLE-key bound (batches legitimately
        # merge windows and share region reads)
        aud = lookup_audit(
            spark, root, [key], chunk_bytes=chunk
        ).toPandas()
        for r in aud[aud["window_start"].notna()].itertuples():
            window = r.window_end - r.window_start
            assert r.index_bytes_read <= window + read_ahead
            size = sizes[(r.table_name, r.sstable_id)]
            if size > 4 * (window + read_ahead):
                assert r.index_bytes_read < size
                checked += 1
    assert checked > 0  # the sub-file-read claim was actually exercised


def test_missing_summary_and_filter_degrade_to_correct_results(
    spark, sf_dir, tmp_path
):
    """No Filter.db -> no bloom skip; no Summary.db -> whole-index window;
    results must stay bit-identical either way."""
    root = _tree(spark, sf_dir)
    keys = _all_keys(spark, sf_dir)[:15]
    want = _collect_sorted(partition_lookup(spark, root, keys))
    stripped = str(tmp_path / "stripped")
    shutil.copytree(root, stripped)
    removed = 0
    for dp, _, fs in os.walk(stripped):
        for f in fs:
            if f.endswith(("-Filter.db", "-Summary.db")):
                os.unlink(os.path.join(dp, f))
                removed += 1
    assert removed > 0
    got = _collect_sorted(partition_lookup(spark, stripped, keys))
    assert got == want
    aud = lookup_audit(spark, stripped, keys).toPandas()
    assert aud["bloom_pass"].isna().all()
    assert aud["bounds_skip"].isna().all()
    # whole-index window: start 0, end = index size
    assert (aud["window_start"] == 0).all()


def test_summary_trailer_bounds_skip_without_opening_the_index(
    spark, sf_dir, tmp_path
):
    """Keys outside [first_key, last_key] are dismissed by the summary
    trailer alone (strip the bloom filter so the trailer is what acts)."""
    root = _tree(spark, sf_dir)
    stripped = str(tmp_path / "nofilter")
    shutil.copytree(root, stripped)
    for dp, _, fs in os.walk(stripped):
        for f in fs:
            if f.endswith("-Filter.db"):
                os.unlink(os.path.join(dp, f))
    aud = lookup_audit(
        spark, stripped, ["\x01below_all_keys", "zzzz_above_all_keys"]
    ).toPandas()
    skipped = aud[aud["bounds_skip"] == True]  # noqa: E712
    assert len(skipped) > 0
    assert (skipped["index_bytes_read"] == 0).all()
    assert (skipped["data_bytes_read"] == 0).all()
    assert not aud["found"].any()


# --------------------------------------------------------------------------
# Synthetic murmur3-token-ordered sstable: comparator dispatch proof
# --------------------------------------------------------------------------

_KS, _TB, _SS = "mks", "mtab", "00001"


def _plant_sstable(tmp_path, partitioner, deleted_key=b"k03",
                   order_partitioner=None, keys=None):
    """A real component set whose index order follows
    ``order_partitioner`` (default: the declared one): bare partition
    blocks (header + END), one carrying a partition deletion so a lookup
    yields a decodable record."""
    from cassandra_sstable_tools_spark.sources.bloom import (
        build_filter,
        encode_filter_db,
    )
    from cassandra_sstable_tools_spark.sources.data_db import (
        LIVE_LDT,
        LIVE_MFDA,
        encode_partition_header,
    )
    from cassandra_sstable_tools_spark.sources.lookup import key_decorator
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        encode_index_db,
        index_offsets,
    )
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        SerializationHeaderInfo,
        SSTableStats,
        encode_statistics_db,
    )
    from cassandra_sstable_tools_spark.sources.summary_db import (
        encode_summary_db,
    )

    keys = keys or [b"k%02d" % i for i in range(12)]
    dec = key_decorator(order_partitioner or partitioner)
    ordered = sorted(keys, key=dec)
    blocks = []
    positions = []
    pos = 0
    for k in ordered:
        if k == deleted_key:
            body = encode_partition_header(k, 1_700_000_000, 1_699_000_000_000)
        else:
            body = encode_partition_header(k, LIVE_LDT, LIVE_MFDA)
        body += b"\x01"  # END_OF_PARTITION
        positions.append(pos)
        blocks.append(body)
        pos += len(body)
    entries = list(zip(ordered, positions))
    d = tmp_path / _KS / _TB
    d.mkdir(parents=True)
    base = str(d / f"nb-{_SS}-big-")
    with open(base + "Index.db", "wb") as f:
        f.write(encode_index_db(entries))
    offs = index_offsets(entries)
    with open(base + "Summary.db", "wb") as f:
        f.write(
            encode_summary_db(
                [(k, o) for (k, _), o in zip(entries, offs)],
                min_index_interval=3,
            )
        )
    with open(base + "Filter.db", "wb") as f:
        f.write(encode_filter_db(build_filter(list(ordered))))
    stats = SSTableStats(partitioner=partitioner, min_timestamp=1)
    with open(base + "Statistics.db", "wb") as f:
        f.write(
            encode_statistics_db(
                stats, version="nb", header=SerializationHeaderInfo()
            )
        )
    with open(base + "Data.db", "wb") as f:
        f.write(b"".join(blocks))
    return keys, ordered, base


def test_murmur3_token_ordered_sstable_lookup(spark, tmp_path):
    """A file in genuine murmur3-token order: the summary binary search
    must decorate with the token (raw-byte order would pick wrong windows
    and miss keys). Proves comparator dispatch off ValidationMetadata."""
    part = "org.apache.cassandra.dht.Murmur3Partitioner"
    keys, ordered, _ = _plant_sstable(tmp_path, part)
    # non-vacuous: token order genuinely differs from byte order
    assert ordered != sorted(ordered)
    aud = lookup_audit(
        spark, str(tmp_path), [k.decode() for k in keys] + ["absent"]
    ).toPandas()
    by_key = aud.set_index("partition_key")
    for k in keys:
        assert bool(by_key.loc[k.decode(), "found"]) is True
    assert bool(by_key.loc["absent", "found"]) is False
    recs = partition_lookup(
        spark, str(tmp_path), [k.decode() for k in keys]
    ).toPandas()
    assert list(recs["kind"]) == ["PARTITION_DELETE"]
    assert recs["partition_key"].iloc[0] == "k03"


def test_unknown_partitioner_is_loud(spark, tmp_path):
    part = "org.apache.cassandra.dht.RandomPartitioner"
    _plant_sstable(
        tmp_path, part,
        order_partitioner="org.apache.cassandra.dht.ByteOrderedPartitioner",
    )
    with pytest.raises(Exception, match="unsupported partitioner"):
        partition_lookup(spark, str(tmp_path), ["k00"]).collect()


def _retype_toc(path: str, type_id: int) -> None:
    """Rename Statistics.db component ``type_id`` in its TOC (an unknown
    type id), as if the file had no such component."""
    with open(path, "r+b") as f:
        buf = bytearray(f.read())
        (n,) = struct.unpack_from(">i", buf, 0)
        for i in range(n):
            at = 4 + 8 * i
            if struct.unpack_from(">i", buf, at)[0] == type_id:
                struct.pack_into(">i", buf, at, 99)
        f.seek(0)
        f.write(buf)


@pytest.mark.parametrize("case", ["truncated", "no_stats", "no_validation"])
def test_statistics_db_checks_of_the_read(spark, tmp_path, case):
    """The reads take only the partitioner and the header out of
    Statistics.db, under the full parse's checks: a truncated file or a
    TOC without STATS fails naming the file; a TOC without VALIDATION
    reads as Murmur3 (the file's real order here, so every key is
    found)."""
    keys, _, base = _plant_sstable(tmp_path, _MURMUR3)
    stats = base + "Statistics.db"
    if case == "truncated":
        with open(stats, "r+b") as f:
            f.truncate(3)
    else:
        _retype_toc(stats, {"no_stats": 2, "no_validation": 0}[case])
    read = partition_lookup(spark, str(tmp_path), [k.decode() for k in keys])
    if case == "no_validation":
        assert [r["partition_key"] for r in read.collect()] == ["k03"]
        return
    with pytest.raises(Exception) as err:
        read.collect()
    assert "corrupt Statistics.db " in str(err.value)
    assert os.path.basename(stats) in str(err.value)
    if case == "no_stats":
        assert "no STATS component" in str(err.value)


_MURMUR3 = "org.apache.cassandra.dht.Murmur3Partitioner"
_BYTE_ORDERED = "org.apache.cassandra.dht.ByteOrderedPartitioner"


def _read_mode(spark, root, mode, first: bytes, last: bytes):
    """The records of one lookup mode reading ``first``: its point read,
    or the byte range or murmur3 token range ``first``..``last`` (index
    order)."""
    from cassandra_sstable_tools_spark.sources.bloom import murmur3_x64_128
    from cassandra_sstable_tools_spark.sources.lookup import (
        partition_range_scan,
        token_range_scan,
    )

    if mode == "keys":
        return partition_lookup(spark, root, [first.decode()]).collect()
    if mode == "range":
        return partition_range_scan(
            spark, root, first.decode(), last.decode()
        ).collect()
    return token_range_scan(
        spark, root, murmur3_x64_128(first)[0], murmur3_x64_128(last)[0]
    ).collect()


@pytest.mark.parametrize("mode", ["keys", "range", "token"])
def test_index_pointing_at_wrong_block_is_loud(spark, tmp_path, mode):
    """Flip the key bytes inside one Data.db partition block: the lookup
    that followed the index there must name the mismatch, not return the
    wrong partition's cells."""
    part = _MURMUR3 if mode == "token" else _BYTE_ORDERED
    keys, ordered, base = _plant_sstable(tmp_path, part)
    victim = ordered[4]
    with open(base + "Data.db", "r+b") as f:
        data = f.read()
        blob = struct.pack(">H", len(victim)) + victim
        at = data.index(blob)
        f.seek(at + 2)
        f.write(b"X" * len(victim))  # same length, different key
    with pytest.raises(Exception, match="index points at"):
        _read_mode(spark, str(tmp_path), mode, victim, victim)


@pytest.mark.parametrize("mode", ["keys", "range", "token"])
def test_decreasing_index_data_position_is_loud(spark, tmp_path, mode):
    """Swap the Data.db positions of two adjacent Index.db entries, so the
    second points below the first: every mode reading the first entry's
    partition must refuse the index, naming the Index.db, instead of
    dropping or misreading a partition."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        encode_index_db,
        index_offsets,
        parse_index_db,
    )
    from cassandra_sstable_tools_spark.sources.summary_db import (
        encode_summary_db,
    )

    part = _MURMUR3 if mode == "token" else _BYTE_ORDERED
    _keys, ordered, base = _plant_sstable(tmp_path, part)
    with open(base + "Index.db", "rb") as f:
        entries = parse_index_db(f.read(), version="nb")
    i = 5
    (ka, pa), (kb, pb) = entries[i], entries[i + 1]
    assert pa < pb and [k for k, _ in entries] == ordered
    entries[i], entries[i + 1] = (ka, pb), (kb, pa)
    with open(base + "Index.db", "wb") as f:
        f.write(encode_index_db(entries))
    with open(base + "Summary.db", "wb") as f:
        f.write(encode_summary_db(
            [(k, o) for (k, _), o in zip(entries, index_offsets(entries))],
            min_index_interval=3,
        ))
    want = "successor data position" if mode == "keys" else "decreases"
    with pytest.raises(Exception, match=want) as err:
        _read_mode(spark, str(tmp_path), mode, ka, kb)
    assert "corrupt Index.db " in str(err.value)
    assert f"{base}Index.db" in str(err.value)


def test_summary_check_detects_a_drifted_summary(spark, sf_dir, tmp_path):
    """The stale-summary detector: nudging ONE stored index offset (a
    summary no longer matching its index -- the silent point-read killer)
    fails exactly that entry on exactly that sstable."""
    from cassandra_sstable_tools_spark.sources.lookup import summary_checks
    from cassandra_sstable_tools_spark.sources.summary_db import (
        encode_summary_db,
        parse_summary_db,
    )

    root = _tree(spark, sf_dir)
    drifted = str(tmp_path / "drifted")
    shutil.copytree(root, drifted)
    base = summary_checks(spark, drifted).toPandas()
    assert len(base) > 0 and base["all_verified"].all()
    victim = next(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(drifted)
        for f in sorted(fs)
        if f.endswith("-Summary.db")
    )
    with open(victim, "rb") as f:
        parsed = parse_summary_db(f.read(), source=victim)
    entries = list(parsed.entries)
    entries[-1] = (entries[-1][0], entries[-1][1] + 3)  # mid-entry offset
    with open(victim, "wb") as f:
        f.write(encode_summary_db(entries, min_index_interval=1))
    got = summary_checks(spark, drifted).toPandas()
    vic_tb = os.path.basename(os.path.dirname(victim))
    vic_id = os.path.basename(victim).split("-")[1]
    bad = got[~got["all_verified"]]
    assert len(bad) == 1
    assert (bad.iloc[0]["table_name"], bad.iloc[0]["sstable_id"]) == (
        vic_tb, vic_id,
    )
    assert bad.iloc[0]["verified"] == bad.iloc[0]["sampled_entries"] - 1


# --------------------------------------------------------------------------
# Partition-range scans
# --------------------------------------------------------------------------


def test_range_scan_equals_filtered_scan_path(spark, sf_dir):
    """A range scan must reproduce the full scan filtered by BETWEEN,
    bit-for-bit — bounds inclusive on both ends."""
    from pyspark.sql import functions as F

    from cassandra_sstable_tools_spark.sources.data_cells import data_cells
    from cassandra_sstable_tools_spark.sources.lookup import (
        partition_range_scan,
    )

    root = _tree(spark, sf_dir)
    keys = _all_keys(spark, sf_dir)
    lo, hi = keys[3], keys[len(keys) // 3]  # inclusive ends hit real keys
    got = _collect_sorted(partition_range_scan(spark, root, lo, hi))
    want = _collect_sorted(
        data_cells(spark, root).where(
            F.col("partition_key").between(lo, hi)
        )
    )
    assert got == want and len(got) > 0
    pks = {r[3] for r in got}
    assert lo in pks  # inclusive lower bound exercised


def test_range_scan_reads_a_slice_not_the_files(spark, sf_dir):
    """The audit proves selectivity: a narrow range's index read floors at
    one summary window before lo and stops at the first key past hi, and
    its data read covers only the matched span."""
    import os

    from cassandra_sstable_tools_spark.sources.lookup import range_scan_audit

    root = _tree(spark, sf_dir)
    keys = _all_keys(spark, sf_dir)
    lo = hi = keys[len(keys) // 2]  # single-key range: maximally selective
    aud = range_scan_audit(
        spark, root, lo, hi, chunk_bytes=512
    ).toPandas()
    assert len(aud) > 0
    index_sizes, data_sizes = {}, {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            if not f.endswith(("-Index.db", "-Data.db")):
                continue
            tb, ss = os.path.basename(dp), f.split("-")[1]
            if f.endswith("-Index.db"):
                index_sizes[(tb, ss)] = os.path.getsize(os.path.join(dp, f))
            else:
                data_sizes[(tb, ss)] = os.path.getsize(os.path.join(dp, f))
    checked = 0
    for r in aud.itertuples():
        isize = index_sizes[(r.table_name, r.sstable_id)]
        if r.bounds_skip is True:
            assert r.index_bytes_read == 0
            continue
        if isize > 8 * 1024:
            assert r.index_bytes_read < isize
            checked += 1
        if r.partitions_matched > 0:
            assert 0 < r.data_bytes_read < data_sizes[
                (r.table_name, r.sstable_id)
            ]
    assert checked > 0 or all(
        isize <= 8 * 1024 for isize in index_sizes.values()
    )


def test_range_scan_empty_and_out_of_bounds(spark, sf_dir):
    from cassandra_sstable_tools_spark.sources.lookup import (
        partition_range_scan,
        range_scan_audit,
    )

    root = _tree(spark, sf_dir)
    assert partition_range_scan(spark, root, "zzz1", "zzz2").count() == 0
    aud = range_scan_audit(spark, root, "zzz1", "zzz2").toPandas()
    skipped = aud[aud["bounds_skip"] == True]  # noqa: E712
    assert len(skipped) > 0 and (skipped["index_bytes_read"] == 0).all()
    with pytest.raises(ValueError, match="empty range"):
        partition_range_scan(spark, root, "b", "a")


def test_range_scan_rejects_murmur3_order(spark, tmp_path):
    """A raw-key range on a murmur3-ordered sstable is not contiguous;
    the scan must say so, not return a wrong subset."""
    from cassandra_sstable_tools_spark.sources.lookup import (
        partition_range_scan,
    )

    _plant_sstable(tmp_path, "org.apache.cassandra.dht.Murmur3Partitioner")
    with pytest.raises(Exception, match="ByteOrderedPartitioner"):
        partition_range_scan(spark, str(tmp_path), "k00", "k05").collect()


def test_token_range_scan_matches_bruteforce(spark, tmp_path):
    """Token-range scan over a genuine murmur3-token-ordered sstable must
    equal the full decode filtered by brute-force token computation --
    the strongest certificate available (no SQL oracle can murmur3)."""
    from cassandra_sstable_tools_spark.sources.bloom import murmur3_x64_128
    from cassandra_sstable_tools_spark.sources.data_cells import data_cells
    from cassandra_sstable_tools_spark.sources.lookup import token_range_scan

    part = "org.apache.cassandra.dht.Murmur3Partitioner"
    keys = [b"tk%03d" % i for i in range(40)]
    _, ordered, _ = _plant_sstable(
        tmp_path, part, keys=keys, deleted_key=keys[7]
    )

    def token(k: bytes) -> int:
        return murmur3_x64_128(k)[0]

    toks = sorted(token(k) for k in keys)
    t_lo, t_hi = toks[10], toks[30]  # inclusive bounds hit real tokens
    got = _collect_sorted(token_range_scan(spark, str(tmp_path), t_lo, t_hi))
    want = sorted(
        tuple(r)
        for r in data_cells(spark, str(tmp_path)).collect()
        if t_lo <= token(r["partition_key"].encode()) <= t_hi
    )
    assert got == want
    # non-vacuous: the range must actually select a strict subset, and the
    # planted deletion record must appear iff its token is in range
    all_recs = data_cells(spark, str(tmp_path)).count()
    assert 0 < len(want) or all_recs == 0
    in_range = t_lo <= token(keys[7]) <= t_hi
    assert any(r[3] == keys[7].decode() for r in got) == in_range
    # a range falling in the gap between two adjacent tokens is empty
    if toks[31] - toks[30] > 2:
        assert token_range_scan(
            spark, str(tmp_path), toks[30] + 1, toks[31] - 1
        ).count() == 0
    with pytest.raises(ValueError, match="empty token range"):
        token_range_scan(spark, str(tmp_path), 5, 4)


def test_cli_token_range_mode(spark, tmp_path):
    """CLI wiring for --from-token/--to-token over a planted murmur3
    tree: full token space returns every record; --merge rejected."""
    import contextlib
    import io

    from cassandra_sstable_tools_spark.__main__ import main

    part = "org.apache.cassandra.dht.Murmur3Partitioner"
    _plant_sstable(tmp_path, part)
    lo, hi = str(-(1 << 63)), str((1 << 63) - 1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["lookup", "--cassandra-dir", str(tmp_path),
                   "--from-token", lo, "--to-token", hi, "-b"], spark=spark)
    assert rc == 0
    text = buf.getvalue()
    assert "Token-range records" in text and "Token-range audit" in text
    assert "PARTITION_DELETE" in text  # the planted deletion surfaced
    assert main(["lookup", "--cassandra-dir", str(tmp_path),
                 "--from-token", lo, "--to-token", hi, "--merge", "-b"],
                spark=spark) == 2
    assert main(["lookup", "--cassandra-dir", str(tmp_path),
                 "--from-token", lo, "-b"], spark=spark) == 2


def test_token_range_scan_rejects_byte_order(spark, tmp_path):
    from cassandra_sstable_tools_spark.sources.lookup import token_range_scan

    _plant_sstable(
        tmp_path, "org.apache.cassandra.dht.ByteOrderedPartitioner"
    )
    with pytest.raises(Exception, match="Murmur3Partitioner"):
        token_range_scan(spark, str(tmp_path), 0, 1 << 40).collect()


def test_decorator_rejects_garbage_and_orders_murmur3():
    with pytest.raises(ValueError, match="unsupported partitioner"):
        key_decorator("com.example.WeirdPartitioner")
    dec = key_decorator("org.apache.cassandra.dht.Murmur3Partitioner")
    # token ties broken by raw bytes; identical keys compare equal
    assert dec(b"abc") == dec(b"abc")
    assert dec(b"abc") != dec(b"abd")


# --------------------------------------------------------------------------
# Typed keys: encoder round-trips + a long-keyed lookup
# --------------------------------------------------------------------------


def test_key_encoder_inverts_key_renderer():
    """encoder(renderer(bytes)) == bytes for every typed form."""
    import uuid as _uuid

    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        key_encoder,
        key_renderer,
    )

    cases = [
        ("long", (123456789).to_bytes(8, "big", signed=True)),
        ("long", (-42).to_bytes(8, "big", signed=True)),
        ("int", (7).to_bytes(4, "big", signed=True)),
        ("uuid", _uuid.UUID(int=0xDEADBEEF).bytes),
        ("hex", b"\x00\xff\x10"),
        ("composite(long,string)",
         b"\x00\x08" + (5).to_bytes(8, "big") + b"\x00"
         + b"\x00\x03abc\x00"),
    ]
    for kt, raw in cases:
        enc = key_encoder(kt)
        if kt == "hex":  # hex is encode-only (render_key's 0x form)
            assert enc("0x" + raw.hex()) == raw and enc(raw.hex()) == raw
        else:
            assert enc(key_renderer(kt)(raw)) == raw, (kt, raw)
    with pytest.raises(ValueError, match="unsupported --key-type"):
        key_encoder("blob")
    with pytest.raises(ValueError, match="components"):
        key_encoder("composite(long,string)")("5")


def test_lookup_with_long_keys(spark, tmp_path):
    """A long-keyed byte-ordered sstable: -k '302' --key-type long must
    probe the bloom filter and search the summary with the 8-byte
    big-endian form (positive longs keep byte order = numeric order)."""
    part = "org.apache.cassandra.dht.ByteOrderedPartitioner"
    keys = [(300 + i).to_bytes(8, "big", signed=True) for i in range(12)]
    _plant_sstable(tmp_path, part, keys=keys, deleted_key=keys[2])
    aud = lookup_audit(
        spark, str(tmp_path), ["302", "305", "999"], key_type="long"
    ).toPandas().set_index("partition_key")
    assert bool(aud.loc["302", "found"]) is True
    assert bool(aud.loc["305", "found"]) is True
    assert bool(aud.loc["999", "found"]) is False
    recs = partition_lookup(
        spark, str(tmp_path), ["302"], key_type="long"
    ).toPandas()
    # keys[2] == 302 carries the planted partition deletion
    assert list(recs["kind"]) == ["PARTITION_DELETE"]


def test_token_range_cassdir_nonvacuous(spark, sf_dir):
    """The registered token-range certificate selects a STRICT subset of
    the decodable corpus (the middle half of the ring) -- neither empty
    nor everything, so the range predicate is genuinely doing work -- and
    the planted tree is genuinely token-ordered, not byte-ordered."""
    import glob

    from cassandra_sstable_tools_spark.sources.data_cells import data_cells
    from cassandra_sstable_tools_spark.sources.murmur3_fixture import (
        materialize_murmur3_files,
        token_range_scan_cassdir,
    )
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        stream_parse_index_db,
    )

    root = materialize_murmur3_files(spark, sf_dir)
    sel = token_range_scan_cassdir(spark, sf_dir).count()
    total = data_cells(spark, root).count()
    assert 0 < sel < total
    idx = sorted(glob.glob(f"{root}/**/*-Index.db", recursive=True))[0]
    with open(idx, "rb") as f:
        keys = [k for k, _ in stream_parse_index_db(f, version="nb",
                                                    source=idx)]
    assert keys != sorted(keys), "murmur3 tree is byte-ordered (vacuous)"


def test_composite_key_colon_escape():
    """A text component containing ':' round-trips through the '\\:'
    escape (r08 ADVICE #4: previously unrepresentable)."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        key_encoder,
        key_renderer,
    )

    kt = "composite(string,string)"
    raw = b"\x00\x04a:b\x00" + b"\x00\x03c:d"[:5]  # build precisely below
    raw = (b"\x00\x03a:b\x00" + b"\x00\x01c\x00")
    disp = key_renderer(kt)(raw)
    assert disp == "a\\:b:c"
    assert key_encoder(kt)(disp) == raw
    # encoding a literal escape form directly
    assert key_encoder(kt)("x\\:y:z") == b"\x00\x03x:y\x00\x00\x01z\x00"


def test_normalize_keys_rejects_bare_string(spark):
    from cassandra_sstable_tools_spark.sources.lookup import _normalize_keys

    with pytest.raises(TypeError, match="LIST of keys"):
        _normalize_keys("abc")


def test_merged_view_keeps_distinct_collection_entries(spark, sf_dir):
    """Two live map cells under DIFFERENT CellPaths are distinct CQL map
    entries: the merged read-time view must return BOTH (r09 s2 fix --
    the bare column_name rename made every collection LWW-collide on its
    base column, silently dropping all but the latest-written entry)."""
    import pyspark.sql.functions as F

    from cassandra_sstable_tools_spark.sources.data_cells import data_cells
    from cassandra_sstable_tools_spark.sources.lookup import (
        partition_lookup_merged,
    )
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    d = data_cells(spark, root)
    # candidate partitions: >= 2 distinct live paths at one (clustering,
    # column), and NO deletion-kind records anywhere in the partition so
    # expectations need no shadowing model
    del_pks = {
        r.partition_key
        for r in d.where(
            F.col("kind").isin(
                "PARTITION_DELETE", "ROW_DELETE",
                "RANGE_TOMBSTONE_MARKER", "COMPLEX_DELETE",
            )
            | F.col("is_tombstone")
        ).select("partition_key").distinct().collect()
    }
    multi = (
        d.where(F.col("cell_path").isNotNull() & ~F.col("is_tombstone"))
        .groupBy("partition_key", "clustering", "column_name")
        .agg(F.countDistinct("cell_path").alias("n"))
        .where("n > 1")
        .toPandas()
    )
    multi = multi[~multi.partition_key.isin(del_pks)]
    if multi.empty:
        pytest.skip("fixture has no delete-free multi-path partitions")
    pk, cl, col = multi.iloc[0][["partition_key", "clustering",
                                 "column_name"]]
    expected = (
        d.where(
            (F.col("partition_key") == pk) & (F.col("clustering") == cl)
            & (F.col("column_name") == col)
            # expired entries are absent from a read-time view
            & ~(F.col("is_expiring")
                & (F.col("local_deletion_time")
                   < __import__(
                       "cassandra_sstable_tools_spark.constants",
                       fromlist=["NOW_SECONDS"],
                   ).NOW_SECONDS))
        )
        .groupBy("cell_path")
        .agg(F.max("writetime").alias("writetime"))
        .toPandas()
    )
    assert len(expected) > 1
    got = partition_lookup_merged(spark, root, [pk]).toPandas()
    got = got[(got.clustering == cl)
              & got.cell_name.str.startswith(f"{col}[")]
    assert sorted(got.cell_name) == sorted(
        f"{col}[{p}]" for p in expected.cell_path
    )


def test_inet_lookup_probes_mapped_form():
    """A dotted-quad -k literal under --key-type inet probes BOTH the
    4-byte and the 16-byte IPv4-mapped encodings (Java renders both as
    the quad) -- same dual-candidate rule as the DataSource planner."""
    from cassandra_sstable_tools_spark.sources.lookup import _normalize_keys

    got = _normalize_keys(["192.168.0.9"], key_type="inet")
    assert ("192.168.0.9", bytes([192, 168, 0, 9])) in got
    assert (
        "192.168.0.9",
        b"\x00" * 10 + b"\xff\xff" + bytes([192, 168, 0, 9]),
    ) in got
    # non-inet types keep the single exact candidate
    assert len(_normalize_keys(["7"], key_type="long")) == 1


@pytest.mark.parametrize("mode", ["keys", "range", "token"])
def test_cli_lookup_is_one_job_reading_each_sstable_once(
    spark, sf_dir, tmp_path, monkeypatch, mode
):
    """Every lookup mode prints its records AND its audit from ONE Spark
    job (the command's job group holds exactly one job id), and that job
    runs the Python read path exactly once per sstable -- no listing
    count, no sampling job of an orderBy, no second pass per section."""
    import contextlib
    import io

    from cassandra_sstable_tools_spark.__main__ import main
    from cassandra_sstable_tools_spark.sources import lookup as L
    from cassandra_sstable_tools_spark.sources.inventory import (
        sstable_inventory,
    )

    if mode == "token":
        for sub in ("a", "b"):
            (tmp_path / sub).mkdir()
            _plant_sstable(
                tmp_path / sub, "org.apache.cassandra.dht.Murmur3Partitioner"
            )
        root = str(tmp_path)
        argv = ["--from-token", str(-(1 << 63)), "--to-token",
                str((1 << 63) - 1)]
        read = "_token_range_in_sstable"
    else:
        root = _tree(spark, sf_dir)
        keys = _all_keys(spark, sf_dir)
        if mode == "keys":
            argv = ["-k", keys[0], "-k", keys[len(keys) // 2], "-k", "absent"]
            read = "_lookup_in_sstable"
        else:
            argv = ["--from", keys[0], "--to", keys[len(keys) // 3]]
            read = "_range_in_sstable"
    sc = spark.sparkContext
    calls = sc.accumulator(0)
    real = getattr(L, read)

    def counting(*a, **kw):
        calls.add(1)
        return real(*a, **kw)

    monkeypatch.setattr(L, read, counting)
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup("cli:lookup"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["lookup", "--cassandra-dir", root, *argv, "-b"],
                  spark=spark)
    assert rc == 0
    jobs = set(tracker.getJobIdsForGroup("cli:lookup")) - before
    assert len(jobs) == 1, f"lookup ran {len(jobs)} Spark jobs"
    n_sstables = sum(
        "Index.db" in s.components for s in sstable_inventory(root)
    )
    assert n_sstables > 1
    assert calls.value == n_sstables
    # the job tag is the caller's to keep: nothing leaks past main()
    assert sc.getLocalProperty("spark.jobGroup.id") is None
