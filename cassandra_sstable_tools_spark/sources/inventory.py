"""Driver-side sstable inventory, and the one per-sstable pass every POSIX
directory source reads through.

The listing goes through the Hadoop ``FileSystem`` of the root, so a POSIX
directory and an ``hdfs://``/``s3a://`` root take the same path, and it runs
on the driver: no Spark job, no ``count()``, no repartition. Paths come back
qualified (``file:/...``), exactly as the ``binaryFile`` source reports them.

Listing rules, shared by every consumer:

- ``snapshots/`` and ``backups/`` subtrees are never live data (a recursive
  listing would double-count their hardlinks and read keyspace='snapshots'
  off the path; r07 ADVICE #2), so they are skipped, as are hidden and
  ``_``-prefixed names, which the file-source listing skips too;
- ``filenames`` carries the reference's ``-f`` semantics (a set of Data.db
  basenames, `cli/PartitionSizeStatisticsCollector.java:35-59`): an sstable
  is kept when its Data.db name is in the set, whichever of its components
  are on disk.

``sstable_pass`` is the read side (the reference's one reader per sstable,
`cassandra/IndexReader.java:77-113`): the work list is the inventory
filtered by the components a source needs, one ``spark.range(...)
.mapInArrow`` stage runs one task per work unit, and each read gets an
``SSTable`` handle whose sibling paths come from the listing -- no task
probes the filesystem for a sibling.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cassandra_sstable_tools_spark.sources.sstable_binary import (
    EXCLUDED_PATHS,
    _is_local_root,
    _local_path,
    _parse_filename,
)

_EXCLUDED_DIRS = ("snapshots", "backups")
_EXCLUDED = re.compile(EXCLUDED_PATHS)


@dataclass(frozen=True)
class SSTable:
    """One sstable's files: ``base`` is the qualified path up to the
    component name (``<dir>/<version>-<id>-<format>-``); ``status`` holds
    ``(component, length, mtime_ms)`` per file when the handle comes from
    the inventory listing."""

    base: str
    components: frozenset
    status: tuple = ()

    @classmethod
    def at(cls, path: str) -> SSTable:
        """The handle of the sstable that owns component file ``path`` (a
        POSIX path or ``file:`` URI), from one listing of its directory --
        for callers that hold a path rather than an inventory."""
        local = _local_path(path)
        directory, name = os.path.split(local)
        prefix = name[: name.rindex("-") + 1]
        return cls(
            path[: len(path) - len(name) + len(prefix)],
            frozenset(
                f[len(prefix):] for f in os.listdir(directory)
                if f.startswith(prefix)
            ),
        )

    def path(self, component: str) -> str:
        return self.base + component

    def local(self, component: str) -> str | None:
        """POSIX path of ``component``, or None when it is not on disk."""
        if component not in self.components:
            return None
        return _local_path(self.base + component)

    def length(self, component: str) -> int:
        return next(n for c, n, _ in self.status if c == component)

    def mtime(self, component: str) -> int:
        return next(t for c, _, t in self.status if c == component)

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


def _list_files(spark: SparkSession, root: str) -> list[tuple[str, int, int]]:
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out: list[tuple[str, int, int]] = []
    stack = [path]
    while stack:
        for st in fs.listStatus(stack.pop()):
            p = st.getPath()
            uri = p.toString()
            name = uri.rsplit("/", 1)[-1]
            if name.startswith(("_", ".")):
                continue  # hidden, as the file-source listing treats them
            if st.isDirectory():
                if name not in _EXCLUDED_DIRS:
                    stack.append(p)
            else:
                out.append((uri, st.getLen(), st.getModificationTime()))
    return out


def sstable_inventory(
    spark: SparkSession, root: str, filenames=None
) -> list[SSTable]:
    """Live sstables under ``root``, sorted by path, each with the set of
    component names found on disk (``Data.db``, ``Index.db``, ...)."""
    groups: dict[str, list] = {}
    for uri, length, mtime in _list_files(spark, root):
        if _EXCLUDED.search(uri):
            continue  # the root itself lies inside a snapshot/backup
        base, sep, component = uri.rpartition("-")
        if sep and "/" not in component:
            groups.setdefault(base + sep, []).append(
                (component, length, mtime)
            )
    ssts = [
        SSTable(b, frozenset(c for c, _, _ in st), tuple(sorted(st)))
        for b, st in sorted(groups.items())
    ]
    if filenames:
        wanted = set(filenames)
        ssts = [s for s in ssts if s.data_name in wanted]
    return ssts


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


def live_sstables(
    spark: SparkSession, name: str, root: str, filenames, needs
) -> list[SSTable]:
    """The work list of a POSIX directory source: the inventory's sstables
    that have every component in ``needs``. ``name`` is the public
    function reading them, for the root check's message."""
    if not _is_local_root(root):
        raise ValueError(f"{name} needs a POSIX-visible root; got {root!r}")
    need = set(needs)
    return [
        s for s in sstable_inventory(spark, root, filenames)
        if need <= s.components
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


def sstable_pass(
    spark: SparkSession, name: str, root: str, filenames, needs, read, schema
) -> DataFrame:
    """Run ``read(sst)`` once for every live sstable that has the
    components ``needs``, in ONE Spark stage, and emit its row tuples
    (``schema`` column order after the keyspace/table_name/sstable_id
    prefix). ``schema`` is a StructType or a DDL string.

    ``min(#sstables, defaultParallelism)`` tasks each take every n-th
    sstable of the work list, so every read runs exactly once per
    sstable."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from cassandra_sstable_tools_spark.sources.data_cells import _cell_batches

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    ssts = live_sstables(spark, name, root, filenames, needs)
    n = max(1, min(len(ssts), spark.sparkContext.defaultParallelism))
    pa_schema = to_arrow_schema(schema)

    def read_batches(sst) -> Iterator:
        ident = sst.identity
        return _cell_batches([(*ident, *r) for r in read(sst)], pa_schema)

    return run_units(
        spark, [ssts[i::n] for i in range(n)], read_batches, schema
    )
