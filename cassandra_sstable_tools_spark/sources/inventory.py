"""Driver-side sstable inventory, and the one per-sstable pass every
directory source reads through.

One ``pyarrow.fs`` filesystem, resolved from the root URI on the driver
(``FileSystem.from_uri``), both lists and opens every sstable: a POSIX
directory (``/x``, ``file:/x``, ``file:///x``) and any other root pyarrow
can open (``s3://``, ``hdfs://`` where a Hadoop install provides
``libhdfs.so``) take the same path. A root pyarrow cannot resolve
(``s3a://``, an unknown scheme) is refused before any job runs, with a
``ValueError`` naming the public function that was called. The listing
runs on the driver: no Spark job, no ``count()``, no repartition. Paths
come back qualified (``file:/...``).

Listing rules, shared by every consumer:

- ``snapshots/`` and ``backups/`` subtrees are never live data (a recursive
  listing would double-count their hardlinks and read keyspace='snapshots'
  off the path; r07 ADVICE #2), so they are skipped, as are hidden and
  ``_``-prefixed names; a root that itself lies inside one lists nothing;
- ``filenames`` carries the reference's ``-f`` semantics (a set of Data.db
  basenames, `cli/PartitionSizeStatisticsCollector.java:35-59`): an sstable
  is kept when its Data.db name is in the set, whichever of its components
  are on disk.

``sstable_pass`` is the read side (the reference's one reader per sstable,
`cassandra/IndexReader.java:77-113`): the work list is the inventory
filtered by the components a source needs, one ``spark.range(...)
.mapInArrow`` stage runs one task per work unit, and each read gets an
``SSTable`` handle that carries the filesystem, opens its components
(``SSTable.open``) and knows their lengths from the listing -- no task
probes the filesystem for a sibling. ``sstable_rows`` runs the same work
units as a plain Python RDD (``unit_rdd``) for the reports that finish
on the driver: no schema, no Arrow batch, no SQL plan.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cassandra_sstable_tools_spark.sources.sstable_binary import (
    _parse_filename,
)

# directories that never hold live sstables, pruned from the walk; a root
# that itself lies inside one lists nothing
_EXCLUDED_DIRS = ("snapshots", "backups")
_EXCLUDED = re.compile("/(snapshots|backups)/")


@dataclass(frozen=True)
class SSTable:
    """One sstable's files: ``base`` is the qualified path up to the
    component name (``<dir>/<version>-<id>-<format>-``); ``status`` holds
    ``(component, length, mtime_ms)`` per file from the listing; ``fs`` is
    the ``pyarrow.fs`` filesystem that listed them, whose paths are
    ``base`` minus ``uri_prefix`` (``file:`` on a local root)."""

    base: str
    components: frozenset
    status: tuple = ()
    fs: object = field(default=None, compare=False)
    uri_prefix: str = ""

    @classmethod
    def at(cls, path: str) -> SSTable:
        """The handle of the sstable that owns component file ``path`` (a
        POSIX path or a URI), from one listing of its directory -- for
        callers that hold a path rather than an inventory."""
        directory, _, name = path.rpartition("/")
        stem = name[: name.rindex("-") + 1]
        fs, top, prefix = _resolve("SSTable.at", directory or ".")
        files = [
            f for f in _list_dir(fs, top)[0]
            if f[0].rsplit("/", 1)[-1].startswith(stem)
        ]
        found = _group(files, fs, prefix)
        if not found:
            raise ValueError(f"no sstable component at {path}")
        return found[0]

    def path(self, component: str) -> str:
        return self.base + component

    def fs_path(self, component: str) -> str:
        """``component``'s path on ``fs`` (a POSIX path on a local root)."""
        return self.base[len(self.uri_prefix):] + component

    def open(self, component: str):
        """Binary random-access input stream of ``component`` (``read``,
        ``seek``, ``close``; a context manager)."""
        return self.fs.open_input_file(self.fs_path(component))

    def _status(self, component: str) -> tuple[int, int]:
        for c, n, t in self.status:
            if c == component:
                return n, t
        raise ValueError(
            f"sstable {self.base}: no {component} in its listing"
        )

    def length(self, component: str) -> int:
        return self._status(component)[0]

    def mtime(self, component: str) -> int:
        return self._status(component)[1]

    @property
    def data_name(self) -> str:
        return self.base.rsplit("/", 1)[-1] + "Data.db"

    @cached_property
    def _parsed(self) -> tuple[str, str, str, str]:
        # _parse_filename's checks: a malformed name or a path without
        # keyspace/table directories raises
        c = min(self.components)
        return _parse_filename(self.path(c), component=c)

    @property
    def identity(self) -> tuple[str, str, str]:
        """(keyspace, table_name, sstable_id)."""
        return self._parsed[:3]

    @property
    def version(self) -> str:
        return self._parsed[3]


def _resolve(name: str, root: str):
    """``(filesystem, path on it, URI prefix)`` of a directory ``root``;
    ``name`` is the public function resolving it, for the message."""
    from pyarrow import fs as pafs

    if "://" not in root and not root.startswith("file:"):
        root = os.path.abspath(root)  # relative: against the cwd
    try:
        fs, top = pafs.FileSystem.from_uri(root)
    except (ValueError, OSError) as e:
        raise ValueError(
            f"{name} cannot open root {root!r} through pyarrow.fs: {e}"
        ) from None
    if fs.get_file_info(top).type != pafs.FileType.Directory:
        raise ValueError(f"{name} root is not a directory: {root}")
    if isinstance(fs, pafs.LocalFileSystem):
        prefix = "file:"
    else:
        i = root.rfind(top)
        prefix = root[:i] if i >= 0 else ""
    return fs, top, prefix


def _list_dir(fs, top: str) -> tuple[list[tuple[str, int, int]], list[str]]:
    """``([(path, length, mtime_ms)] of the files, [subdirectory paths])``
    directly under ``top``, hidden and ``_``-prefixed names skipped."""
    from pyarrow import fs as pafs

    files: list[tuple[str, int, int]] = []
    dirs: list[str] = []
    for info in fs.get_file_info(pafs.FileSelector(top)):
        if info.base_name.startswith(("_", ".")):
            continue
        if info.type == pafs.FileType.Directory:
            dirs.append(info.path)
        elif info.type == pafs.FileType.File:
            files.append((info.path, info.size, info.mtime_ns // 1_000_000))
    return files, dirs


def _group(files, fs, prefix: str) -> list[SSTable]:
    """Component files -> one handle per sstable, sorted by path."""
    groups: dict[str, list] = {}
    for path, length, mtime in files:
        base, sep, component = path.rpartition("-")
        if sep and "/" not in component:
            groups.setdefault(base + sep, []).append(
                (component, length, mtime)
            )
    return [
        SSTable(
            prefix + b, frozenset(c for c, _, _ in st), tuple(sorted(st)),
            fs, prefix,
        )
        for b, st in sorted(groups.items())
    ]


def _inventory(name: str, root: str, filenames) -> list[SSTable]:
    fs, top, prefix = _resolve(name, root)
    files: list[tuple[str, int, int]] = []
    stack = [top]
    while stack:
        found, dirs = _list_dir(fs, stack.pop())
        files += found
        stack += [
            d for d in dirs if d.rsplit("/", 1)[-1] not in _EXCLUDED_DIRS
        ]
    ssts = [
        s for s in _group(files, fs, prefix) if not _EXCLUDED.search(s.base)
    ]
    if filenames:
        wanted = set(filenames)
        ssts = [s for s in ssts if s.data_name in wanted]
    return ssts


def sstable_inventory(root: str, filenames=None) -> list[SSTable]:
    """Live sstables under ``root``, sorted by path, each with the set of
    component names found on disk (``Data.db``, ``Index.db``, ...)."""
    return _inventory("sstable_inventory", root, filenames)


def ddl_columns(ddl: str) -> list[str]:
    """The column names of a flat DDL schema string."""
    return [f.split()[0] for f in ddl.split(",")]


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-side row tuples as a local relation typed from ``ddl``:
    built from an Arrow table, so reading or broadcasting it runs no Spark
    job (a list-built frame is an RDD scan, which does)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from cassandra_sstable_tools_spark.sources.data_cells import _cell_batches

    pa_schema = to_arrow_schema(StructType.fromDDL(ddl))
    return spark.createDataFrame(pa.Table.from_batches(
        list(_cell_batches(rows, pa_schema)), schema=pa_schema
    ))


def live_sstables(name: str, root: str, filenames, needs) -> list[SSTable]:
    """The work list of a directory source: the inventory's sstables that
    have every component in ``needs``. ``name`` is the public function
    reading them, for the root check's message."""
    need = set(needs)
    return [
        s for s in _inventory(name, root, filenames) if need <= s.components
    ]


def run_units(
    spark: SparkSession, units: list[list], read, schema: StructType
) -> DataFrame:
    """ONE Spark stage with one task per work unit (a list of work items):
    task i yields the Arrow batches (typed as ``schema``) of ``read(item)``
    for every item of ``units[i]``."""
    units = units or [[]]
    n = len(units)

    def run(batches) -> Iterator:
        for rb in batches:
            for i in rb.column(0).to_pylist():
                for item in units[i]:
                    yield from read(item)

    return spark.range(0, n, 1, n).mapInArrow(run, schema)


def _units(spark: SparkSession, name: str, root: str, filenames, needs):
    """The work units of a pass: ``min(#sstables, defaultParallelism)``
    round-robin slices of the live sstables that have the components
    ``needs``, so every read runs exactly once per sstable."""
    ssts = live_sstables(name, root, filenames, needs)
    n = max(1, min(len(ssts), spark.sparkContext.defaultParallelism))
    return [ssts[i::n] for i in range(n)]


def sstable_pass(
    spark: SparkSession, name: str, root: str, filenames, needs, read, schema
) -> DataFrame:
    """Run ``read(sst)`` once for every live sstable that has the
    components ``needs``, in ONE Spark stage, and emit its row tuples
    (``schema`` column order after the keyspace/table_name/sstable_id
    prefix) as they come: a ``read`` that yields holds one 64k-row Arrow
    batch in task memory. ``schema`` is a StructType or a DDL string."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from cassandra_sstable_tools_spark.sources.data_cells import _cell_batches

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    pa_schema = to_arrow_schema(schema)

    def read_batches(sst) -> Iterator:
        ident = sst.identity
        return _cell_batches(((*ident, *r) for r in read(sst)), pa_schema)

    return run_units(
        spark, _units(spark, name, root, filenames, needs), read_batches,
        schema,
    )


def unit_rdd(spark: SparkSession, units: list, run_unit):
    """Plain Python RDD of ``run_unit(unit)``'s rows, one task per work
    unit: no schema, no Arrow batch, no SQL plan -- the source of the
    reports that finish on the driver."""

    def run(idx) -> Iterator:
        for i in idx:
            yield from run_unit(units[i])

    n = len(units)
    return spark.sparkContext.parallelize(range(n), max(n, 1)) \
        .mapPartitions(run)


def sstable_rows(
    spark: SparkSession, name: str, root: str, filenames, needs, read
) -> list[tuple]:
    """``read(sst)``'s rows for every live sstable that has the components
    ``needs``, collected in ONE Spark job over ``sstable_pass``'s work
    units (``unit_rdd``): ``(*sst.identity, *row)`` tuples, in work-unit
    order."""
    return unit_rdd(
        spark, _units(spark, name, root, filenames, needs),
        lambda ssts: (
            (*ident, *r)
            for s in ssts for ident in (s.identity,) for r in read(s)
        ),
    ).collect()
