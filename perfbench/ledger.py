"""Per-layer ledger: one thread, no Spark. Visits every sstable of the tree
in file order and times the calls into each read-stack module's public
functions, recording a span per call (name, start, end, parent = the
sstable span) and the counts at the same boundary. The write stack and the
chunk codecs are timed over fixed samples after the walk.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager

from common import list_tree

class Tracer:
    """Spans and counts kept in memory; written out when the run ends."""

    def __init__(self):
        # [name, start, end, index of the parent span or None]
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        i = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent])
        try:
            yield i
        finally:
            self.spans[i][2] = time.perf_counter()

    def seconds(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name)

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.spans if n == name]


def _read_sstable(tr: Tracer, s: dict, parent: int):
    """Index, Statistics, Summary and Filter parses of one sstable."""
    from cassandra_sstable_tools_spark.sources.bloom import parse_filter_db
    from cassandra_sstable_tools_spark.sources.sstable_binary import stream_parse_index_db
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        parse_serialization_header,
        parse_statistics_db,
    )
    from cassandra_sstable_tools_spark.sources.summary_db import parse_summary_db

    stem, ver = s["stem"], s["version"]
    with open(stem + "Index.db", "rb") as f, tr.span("index.parse", parent):
        entries = list(stream_parse_index_db(f, version=ver, source=stem + "Index.db"))
    tr.counts["index.entries"] += len(entries)
    with open(stem + "Statistics.db", "rb") as f:
        content = f.read()
    with tr.span("stats.parse", parent):
        parse_statistics_db(content, version=ver, source=stem + "Statistics.db")
        header = parse_serialization_header(content, version=ver, source=stem + "Statistics.db")
    tr.counts["stats.files"] += 1
    with open(stem + "Summary.db", "rb") as f:
        content = f.read()
    with tr.span("summary_db.parse", parent):
        parse_summary_db(content, source=stem + "Summary.db")
    with open(stem + "Filter.db", "rb") as f:
        content = f.read()
    with tr.span("bloom.parse", parent):
        bloom = parse_filter_db(content, source=stem + "Filter.db")
    return entries, header, bloom


def _index_and_header(s: dict):
    """(Index.db entries, serialization header) of one sstable."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import stream_parse_index_db
    from cassandra_sstable_tools_spark.sources.statistics_db import parse_serialization_header

    with open(s["stem"] + "Index.db", "rb") as f:
        entries = list(stream_parse_index_db(f, version=s["version"]))
    with open(s["stem"] + "Statistics.db", "rb") as f:
        header = parse_serialization_header(f.read(), version=s["version"])
    return entries, header


def expected_records(tree: str, point_keys: list[str], key_range: tuple[str, str]):
    """The interpreted kernel's record counts per (table, sstable, key) for
    the seeded point keys and for the keys inside the seeded range: what
    ``lookup -k`` and ``lookup --from/--to`` must print."""
    from cassandra_sstable_tools_spark.sources.data_cells import decode_partition_block
    from cassandra_sstable_tools_spark.sources.lz4_block import open_data_file

    wanted = set(point_keys)
    lo, hi = key_range
    point: dict[tuple, int] = {}
    ranged: dict[tuple, int] = {}
    for s in list_tree(tree):
        stem = s["stem"]
        entries, header = _index_and_header(s)
        entries.sort(key=lambda e: e[1])
        ends = [p for _, p in entries[1:]]
        dat, data_len = open_data_file(stem + "Data.db", stem + "CompressionInfo.db", s["version"])
        try:
            for (kb, pos), end in zip(entries, ends + [data_len]):
                key = kb.decode("utf-8")
                if end <= pos or not (key in wanted or lo <= key <= hi):
                    continue
                dat.seek(pos)
                pk, recs = decode_partition_block(dat.read(end - pos), header, base=pos)
                ident = (s["table"], s["sstable_id"], pk)
                if recs and key in wanted:
                    point[ident] = len(recs)
                if recs and lo <= key <= hi:
                    ranged[ident] = len(recs)
        finally:
            dat.close()
    return point, ranged


def _codec_rates(sample: bytes, compressor: str, min_s: float = 0.3) -> tuple[float, float]:
    """(decode MB/s, encode MB/s) of 64 KiB chunk round trips over
    ``sample``, repeated until each direction has run ``min_s``."""
    from cassandra_sstable_tools_spark.sources.lz4_block import decode_chunk, encode_chunk

    chunks = [sample[i : i + (64 << 10)] for i in range(0, len(sample), 64 << 10)]

    def rate(fn) -> float:
        secs, passes = 0.0, 0
        while secs < min_s:
            t = time.perf_counter()
            fn()
            secs += time.perf_counter() - t
            passes += 1
        return passes * len(sample) / 2**20 / secs

    encoded = [encode_chunk(c, compressor=compressor) for c in chunks]
    for c, e in zip(chunks, encoded):
        if decode_chunk(e, len(c), None, compressor=compressor) != c:
            raise ValueError(f"{compressor} round trip changed a chunk")
    dec = rate(lambda: [decode_chunk(e, len(c), None, compressor=compressor)
                        for c, e in zip(chunks, encoded)])
    enc = rate(lambda: [encode_chunk(c, compressor=compressor) for c in chunks])
    return dec, enc


def _decode_sstable(tr: Tracer, s: dict, header, positions: list[int], cells: dict,
                    parent: int | None = None) -> None:
    """Span reads through ``open_data_file`` and the scan path's own
    span-batching loop, then the C walk with Arrow assembly and the
    interpreted kernel over the same spans. Adds each kernel's cell count
    to ``cells[kernel][table]``."""
    from cassandra_sstable_tools_spark.sources import cellwalk, lz4_block
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _iter_block_spans,
        decode_partition_block,
    )

    stem, n = s["stem"], len(positions)
    with tr.span("read.lz4" if s["compressed"] else "read.plain", parent):
        dat, data_len = lz4_block.open_data_file(
            stem + "Data.db", stem + "CompressionInfo.db", s["version"]
        )
        try:
            spans = list(_iter_block_spans(dat, positions, 0, n, n, data_len))
        finally:
            dat.close()
    tr.counts["read.logical_bytes"] += sum(len(b) for b, _ in spans)

    cmarshal = ",".join(header.clustering_types) or None
    try:
        with tr.span("cellwalk.c", parent):
            bundle = cellwalk.walk_spans(header, spans, stem + "Data.db", False)
        with tr.span("assemble", parent):
            rows = sum(
                b.num_rows for b in cellwalk.assemble_batches(
                    bundle, header, s["keyspace"], s["table"],
                    s["sstable_id"], cmarshal, False,
                )
            )
        cells["C walk"][s["table"]] += bundle["n"]
        tr.counts["assemble.rows"] += rows
    except cellwalk._NeedPython:
        tr.counts["cellwalk.declines"] += 1

    with tr.span("cellwalk.py", parent):
        for buf, blocks in spans:
            for pos, a, b in blocks:
                _pk, recs = decode_partition_block(
                    buf[a:b], header, source=stem + "Data.db", base=pos
                )
                cells["interpreted"][s["table"]] += len(recs)


def _new_cells() -> dict:
    return {"C walk": defaultdict(int), "interpreted": defaultdict(int)}


def kernel_counts(tree: str) -> dict[str, dict[str, int]]:
    """Per-table cell counts of this checkout's C walk and interpreted
    kernel over the whole tree: what the V2 source must count."""
    tr, cells = Tracer(), _new_cells()
    for s in list_tree(tree):
        entries, header = _index_and_header(s)
        _decode_sstable(tr, s, header, sorted(p for _, p in entries), cells)
    return {k: dict(v) for k, v in cells.items()}


def run_ledger(tree: str, point_keys: list[str], out_dir: str) -> tuple[dict, Tracer]:
    """(metrics, tracer) of one ledger pass over the tree."""
    from cassandra_sstable_tools_spark.sources import lz4_block
    from cassandra_sstable_tools_spark.sources.bloom import might_contain_batch
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _COLS_VALUES,
        scan_sstable_cell_batches,
        scan_sstable_cell_rows,
    )
    from cassandra_sstable_tools_spark.sources.pyds_writer import write_sstable

    tr, cells = Tracer(), _new_cells()
    probe = [k.encode("utf-8") for k in point_keys]
    decoded: list[str] = []
    real_decode = lz4_block.decode_chunk

    def counting_decode(raw, expected_len, max_len, source="<bytes>", compressor=lz4_block.LZ4):
        decoded.append(source)
        return real_decode(raw, expected_len, max_len, source=source, compressor=compressor)

    sstables = list_tree(tree)
    for s in sstables:
        with tr.span("sstable") as sid:
            entries, header, bloom = _read_sstable(tr, s, sid)
            keys = {k for k, _ in entries}
            with tr.span("bloom.probe", sid):
                hits = might_contain_batch(bloom, probe)
            tr.counts["bloom.positives"] += int(hits.sum())
            tr.counts["bloom.true_positives"] += sum(
                1 for k, h in zip(probe, hits) if h and k in keys
            )

            lz4_block.decode_chunk = counting_decode
            try:
                _decode_sstable(tr, s, header, sorted(p for _, p in entries), cells, sid)
            finally:
                lz4_block.decode_chunk = real_decode

            with tr.span("scan.task", sid):
                for _ in scan_sstable_cell_batches(s["stem"] + "Index.db"):
                    pass

    # write stack: the largest sstable's lossless cells, encoded twice
    biggest = max(sstables, key=lambda s: os.path.getsize(s["stem"] + "Index.db"))
    rows = [
        dict(zip(_COLS_VALUES, r))
        for r in scan_sstable_cell_rows(biggest["stem"] + "Index.db", with_values=True)
    ]
    shutil.rmtree(out_dir, ignore_errors=True)
    written = 0
    for comp in ("none", "lz4"):
        d = os.path.join(out_dir, comp, biggest["keyspace"], biggest["table"])
        os.makedirs(d)
        with tr.span("encode"):
            paths, _ = write_sstable(rows, d, "00001", compression=comp)
        written += sum(os.path.getsize(p) for p in paths)
    with open(os.path.join(out_dir, "none", biggest["keyspace"], biggest["table"],
                           "nb-00001-big-Data.db"), "rb") as f:
        sample = f.read()
    shutil.rmtree(out_dir, ignore_errors=True)

    c = tr.counts
    n_cells = sum(cells["C walk"].values())
    n_py = sum(cells["interpreted"].values())
    m = {
        "index.parse_s": tr.seconds("index.parse"),
        "index.entries": c["index.entries"],
        "index.entries_per_s": c["index.entries"] / tr.seconds("index.parse"),
        "stats.parse_s": tr.seconds("stats.parse"),
        "stats.files": c["stats.files"],
        "summary_db.parse_s": tr.seconds("summary_db.parse"),
        "bloom.parse_s": tr.seconds("bloom.parse"),
        "bloom.probe_s": tr.seconds("bloom.probe"),
        "bloom.useful_ratio": c["bloom.true_positives"] / max(1, c["bloom.positives"]),
        "read.plain_s": tr.seconds("read.plain"),
        "read.lz4_s": tr.seconds("read.lz4"),
        "read.logical_mb": c["read.logical_bytes"] / 2**20,
        "lz4.chunks_decoded": len(decoded),
        "lz4.chunks_distinct": len(set(decoded)),
        "cellwalk.c_s": tr.seconds("cellwalk.c"),
        "cellwalk.cells": n_cells,
        "cellwalk.cells_per_s": n_cells / tr.seconds("cellwalk.c"),
        "cellwalk.c_share": (len(sstables) - c["cellwalk.declines"]) / len(sstables),
        "assemble.s": tr.seconds("assemble"),
        "assemble.rows_per_s": c["assemble.rows"] / tr.seconds("assemble"),
        "cellwalk.py_s": tr.seconds("cellwalk.py"),
        "cellwalk.py_cells_per_s": n_py / tr.seconds("cellwalk.py"),
        "scan.task_s": tr.seconds("scan.task"),
        "scan.task_max_s": max(tr.durations("scan.task")),
        "encode.s": tr.seconds("encode"),
        "encode.cells_per_s": 2 * len(rows) / tr.seconds("encode"),
        "encode.bytes_out": written,
    }
    for codec, name in (("lz4", lz4_block.LZ4), ("deflate", lz4_block.DEFLATE),
                        ("snappy", lz4_block.SNAPPY)):
        dec, enc = _codec_rates(sample, name)
        m[f"codec.{codec}.decode_mb_s"] = dec
        m[f"codec.{codec}.encode_mb_s"] = enc
    return m, tr
