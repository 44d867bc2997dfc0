"""The reference's k-way merge (PAPER.md §0,
`cassandra/PurgeStatisticBackend.java:70-257`,
`cli/PartitionSizeStatisticsCollector.java:80-105`): every sstable of a
table streamed in partitioner order, and each partition's copies
aggregated in the same task -- nothing per partition crosses the network.

Work unit = (the sstables of one table, a half-open decorated-key range
``[lo, hi)``, ``None`` for an open end). ``max(#tables, ceil(total
Data.db bytes / data_cells.auto_split_bytes))`` ranges are apportioned
over the tables by Data.db bytes, at least one per table, each further
range to the table with the most bytes per range -- so the units fill
one wave of ``defaultParallelism`` tasks. The cut points are sampled
Summary.db keys pooled from the table's sstables, read on the driver
only when a table gets more than one range; a table whose sstables do
not all declare one partitioner that ``lookup.key_decorator`` supports
stays one ``[None, None)`` unit. Each task walks its range of every
Index.db of the table through ``lookup._index_walk``, which starts at
the Summary.db floor of ``lo``.

``purge_report`` is the directory ``purge``: each sstable's spans are
decoded through the lookup read path (``lookup._read_blocks``,
interpreted kernel), one partition block at a time, so memory holds one
partition's copies per sstable; ``heapq.merge`` orders the streams, equal
keys are the copies of one partition, ``operators.purge
.purge_partition`` runs on each, each task folds its rows into per-table
totals and a top-N, and the driver merges those.

``unit_sizes`` serves the directory ``pstats``
(``sstable_binary.pstats_report``): the spans of a unit become partition
sizes (Index.db position deltas), no Data.db byte is read, and the task
collates them by rendered key.

Both run one Spark job of one stage: no shuffle, no SQL plan.
"""

from __future__ import annotations

import heapq
import itertools
from collections.abc import Iterator
from operator import itemgetter

from pyspark.sql import SparkSession

from cassandra_sstable_tools_spark.report.table import sort_key

# components a merged read needs (the data_cells skip rule)
MERGE_NEEDS = {"Index.db", "Data.db", "Statistics.db"}

PURGE_TOTALS_COLUMNS = [
    "keyspace", "table_name", "partitions", "total_size", "total_merged",
    "total_reclaimable",
]
PURGE_TOP_COLUMNS = [
    "keyspace", "table_name", "partition_key", "tables", "pre_size",
    "merged_size", "reclaimable", "rank",
]


def merge_units(spark: SparkSession, ssts, needs=MERGE_NEEDS) -> list[tuple]:
    """``(sstables, lo, hi)`` work units over the inventory ``ssts`` (the
    sstables that lack a component of ``needs`` are left out):
    ``max(#tables, ceil(Data.db bytes / auto_split_bytes))`` key ranges,
    apportioned over the tables by Data.db bytes, at least one each."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        auto_split_bytes,
    )

    tables: dict[tuple, list] = {}
    for s in ssts:
        if needs <= s.components:
            tables.setdefault(s.identity[:2], []).append(s)
    weights = [
        sum(s.length("Data.db") for s in g if "Data.db" in s.components)
        for g in tables.values()
    ]
    total = sum(weights)
    target = auto_split_bytes(total, spark.sparkContext.defaultParallelism)
    units = []
    for group, n in zip(
        tables.values(),
        _apportion(weights, max(len(weights), -(-total // target))),
    ):
        bounds = [None, *(_cuts(group, n) if n > 1 else ()), None]
        units += [(group, lo, hi) for lo, hi in zip(bounds, bounds[1:])]
    return units


def _apportion(weights: list[int], total: int) -> list[int]:
    """``total`` ranges over tables of ``weights`` bytes, at least one
    each: every further range goes to the table with the most bytes per
    range, which keeps the largest range as small as it can be."""
    counts = [1] * len(weights)
    heap = [(-w, i) for i, w in enumerate(weights)]
    heapq.heapify(heap)
    for _ in range(total - len(weights)):
        _, i = heapq.heappop(heap)
        counts[i] += 1
        heapq.heappush(heap, (-weights[i] / counts[i], i))
    return counts


def _key_order(sst):
    """``(partitioner, decorate)`` of one sstable: its declared
    partitioner and that partitioner's decorated-key order. None when
    Statistics.db is absent or unreadable, or ``lookup.key_decorator``
    does not support the partitioner."""
    from cassandra_sstable_tools_spark.sources.lookup import key_decorator
    from cassandra_sstable_tools_spark.sources.statistics_db import (
        parse_partitioner,
    )

    if "Statistics.db" not in sst.components:
        return None
    try:
        with sst.open("Statistics.db") as f:
            partitioner = parse_partitioner(
                f.read(), version=sst.version,
                source=sst.path("Statistics.db"),
            )
        return partitioner, key_decorator(partitioner)
    except Exception:  # noqa: BLE001 -- no known order: left uncut
        return None


def _summary(sst):
    """The parsed Summary.db of ``sst``, None when it has none."""
    from cassandra_sstable_tools_spark.sources.summary_db import (
        parse_summary_db,
    )

    if "Summary.db" not in sst.components:
        return None
    with sst.open("Summary.db") as f:
        return parse_summary_db(f.read(), source=sst.path("Summary.db"))


def _cuts(group, n: int) -> list:
    """Up to ``n - 1`` increasing cut points, evenly spaced over the
    decorated Summary.db samples of the table's sstables; none when the
    sstables do not all declare one partitioner that ``key_decorator``
    supports: such a table is one ``[None, None)`` unit."""
    orders = [_key_order(s) for s in group]
    if None in orders or len({p for p, _ in orders}) > 1:
        return []
    decorate = orders[0][1]
    samples = sorted({
        decorate(key)
        for s in group if (summ := _summary(s)) is not None
        for key, _ in summ.entries
    })
    return sorted({samples[len(samples) * i // n] for i in range(1, n)}) \
        if samples else []


def _contexts(group) -> list[dict]:
    """The read contexts of one table's sstables; they must share one
    partitioner, or no single key order merges them."""
    from cassandra_sstable_tools_spark.sources.lookup import _sstable_ctx

    ctxs = [_sstable_ctx(s) for s in group]
    found = sorted({c["partitioner"] for c in ctxs})
    if len(found) > 1:
        ks, tb = group[0].identity[:2]
        raise ValueError(
            f"sstables of {ks}.{tb} declare different partitioners "
            f"{found}: their partitions have no common order to merge in "
            f"({', '.join(s.path('Statistics.db') for s in group)})"
        )
    return ctxs


def _range_spans(sst, ctx: dict, lo, hi) -> Iterator[list]:
    """``lookup._index_walk`` over the entries of ``sst`` whose decorated
    key is in ``[lo, hi)``: spans ``[key, data position, end]``, in index
    order."""
    from cassandra_sstable_tools_spark.sources.lookup import _index_walk

    past = (lambda dk: False) if hi is None else (lambda dk: dk >= hi)
    return _index_walk(
        sst, ctx, ctx["decorate"], lo, past, lo, 64 << 10,
        {"entries_scanned": 0},
    )


def _stream(sst, ctx: dict, lo, hi) -> Iterator[tuple]:
    """``(decorated key, sstable_id, rendered key, records)`` of every
    partition of ``sst`` in ``[lo, hi)``, in key order."""
    from cassandra_sstable_tools_spark.sources.lookup import _read_blocks

    decorate = ctx["decorate"]
    spans, keys = itertools.tee(_range_spans(sst, ctx, lo, hi))
    sid = sst.identity[2]
    last = None
    for got, (key, pos, _end) in zip(_read_blocks(sst, ctx, spans), keys):
        if got is None:
            continue
        dk = decorate(key)
        if last is not None and dk <= last:
            raise ValueError(
                f"corrupt Index.db {sst.path('Index.db')}: the entry at data "
                f"position {pos} is not above its predecessor in "
                f"{ctx['partitioner']} order"
            )
        last = dk
        yield dk, sid, got[0], got[1]


def merged_partitions(unit) -> Iterator[tuple]:
    """``(rendered key, [(sstable_id, records), ...])`` per partition of a
    work unit, in key order, the copies in inventory order."""
    group, lo, hi = unit
    streams = [
        _stream(s, c, lo, hi) for s, c in zip(group, _contexts(group))
    ]
    merged = heapq.merge(*streams, key=itemgetter(0))
    for _dk, copies in itertools.groupby(merged, key=itemgetter(0)):
        copies = list(copies)
        yield copies[0][2], [(sid, recs) for _, sid, _, recs in copies]


def unit_sizes(unit, render=None, needs=("Data.db",)) -> Iterator[tuple]:
    """``(rendered key, size)`` of every Index.db entry of a work unit, one
    sstable after another, each in index order. A size is the next data
    position minus this one; the last partition of an sstable ends at its
    uncompressed data length (``sstable_binary._data_length``). ``render``
    renders keys (None: each sstable's Statistics.db header, else the
    heuristic). An sstable without a component of ``needs`` is walked, so
    a corrupt index still fails, but gives no sizes."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        _data_length,
        _header_renderer,
    )

    group, lo, hi = unit
    for sst in group:
        # an uncut unit walks the whole index and needs no key order
        ctx = {"summary": None, "decorate": lambda key: key}
        if (lo, hi) != (None, None):
            order = _key_order(sst)
            if order is None:
                raise ValueError(
                    f"sstable {sst.path('Statistics.db')} no longer declares "
                    "the partitioner its table's key ranges were cut in"
                )
            ctx = {"summary": _summary(sst), "decorate": order[1]}
        spans = _range_spans(sst, ctx, lo, hi)
        if not set(needs) <= sst.components:
            for _ in spans:
                pass
            continue
        r = render or _header_renderer(sst)
        for key, pos, end in spans:
            yield r(key), (_data_length(sst) if end is None else end) - pos


def _purge_copy(sid, rec) -> tuple:
    """One decoded record as an ``operators.purge.PURGE_FIELDS`` tuple:
    size is the record's serialized span, and a path-addressed cell's
    name folds its CellPath in (``m0[k3]``; ``data_cells
    .fold_cell_path``)."""
    name = rec.column_name
    if rec.cell_path is not None:
        name = None if name is None else f"{name}[{rec.cell_path}]"
    return (
        sid, rec.kind, rec.clustering, name, rec.phys_size, rec.writetime,
        rec.is_tombstone, rec.is_expiring, rec.ldt, rec.range_start,
        rec.range_end,
    )


def _purge_unit(unit) -> Iterator[tuple]:
    from cassandra_sstable_tools_spark.operators.purge import purge_partition

    ks, tb = unit[0][0].identity[:2]
    for pk, copies in merged_partitions(unit):
        rows = [_purge_copy(sid, r) for sid, recs in copies for r in recs]
        if rows:  # a partition of no records has no cell row either
            yield (ks, tb, pk, *purge_partition(rows))


def purge_partitions(spark: SparkSession, ssts):
    """RDD of ``(keyspace, table_name, partition_key, tables, pre_size,
    merged_size, reclaimable)`` per partition -- the rows of
    ``operators.purge.purge_stats`` over the decoded cells of ``ssts`` --
    one task per work unit."""
    from cassandra_sstable_tools_spark.sources.inventory import unit_rdd

    return unit_rdd(spark, merge_units(spark, ssts), _purge_unit)


def _rank_key(row) -> tuple:
    """The top-N order: reclaimable desc, pre_size desc (NULLs last, as
    Spark's ``desc``), then partition_key asc."""
    return (
        *(((1,) if v is None else (0, -v)) for v in (row[6], row[4])),
        sort_key(row[2]),
    )


def _add_totals(acc: list, more) -> None:
    """``acc += more`` over ``[partitions, total_size, total_merged,
    total_reclaimable]``; the sums skip NULLs like SQL ``sum``."""
    from cassandra_sstable_tools_spark.operators.purge import _purge_sum

    acc[0] += more[0]
    for i in (1, 2, 3):
        acc[i] = _purge_sum(acc[i], more[i])


def _purge_partials(rows, n: int) -> Iterator[tuple]:
    """Fold one task's partition rows into ``((keyspace, table_name),
    totals, top-n rows)`` per table."""
    tables: dict[tuple, tuple] = {}
    for row in rows:
        totals, top = tables.setdefault(row[:2], ([0, None, None, None], []))
        _add_totals(totals, (1, *row[4:7]))
        top.append(row)
        if len(top) >= 2 * n:
            top[:] = heapq.nsmallest(n, top, key=_rank_key)
    for key, (totals, top) in tables.items():
        yield key, totals, heapq.nsmallest(n, top, key=_rank_key)


def purge_report(
    spark: SparkSession, ssts, n: int
) -> tuple[list[tuple], list[tuple]]:
    """The ``purge`` report over the inventory ``ssts``: per-table totals
    rows (``PURGE_TOTALS_COLUMNS``) and the ``n`` top reclaimable
    partitions per table with their rank (``PURGE_TOP_COLUMNS``)."""
    partials = purge_partitions(spark, ssts).mapPartitions(
        lambda rows: _purge_partials(rows, n)
    ).collect()
    tables: dict[tuple, tuple] = {}
    for key, totals, top in partials:
        acc, best = tables.setdefault(key, ([0, None, None, None], []))
        _add_totals(acc, totals)
        best += top
    totals_rows, top_rows = [], []
    for key, (acc, best) in tables.items():
        totals_rows.append((*key, *acc))
        top_rows += [
            (*row, rank) for rank, row in
            enumerate(heapq.nsmallest(n, best, key=_rank_key), 1)
        ]
    return totals_rows, top_rows
