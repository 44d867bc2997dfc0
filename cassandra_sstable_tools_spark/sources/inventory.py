"""Driver-side sstable inventory: one listing of a Cassandra data directory,
grouped into the component set of each sstable.

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
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

from cassandra_sstable_tools_spark.sources.sstable_binary import EXCLUDED_PATHS

_EXCLUDED_DIRS = ("snapshots", "backups")
_EXCLUDED = re.compile(EXCLUDED_PATHS)


@dataclass(frozen=True)
class SSTable:
    """One sstable's files: ``base`` is the qualified path up to the
    component name (``<dir>/<version>-<id>-<format>-``)."""

    base: str
    components: frozenset

    def path(self, component: str) -> str:
        return self.base + component

    @property
    def data_name(self) -> str:
        return self.base.rsplit("/", 1)[-1] + "Data.db"


def _list_files(spark: SparkSession, root: str) -> list[str]:
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out: list[str] = []
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
                out.append(uri)
    return out


def sstable_inventory(
    spark: SparkSession, root: str, filenames=None
) -> list[SSTable]:
    """Live sstables under ``root``, sorted by path, each with the set of
    component names found on disk (``Data.db``, ``Index.db``, ...)."""
    groups: dict[str, set] = {}
    for uri in _list_files(spark, root):
        if _EXCLUDED.search(uri):
            continue  # the root itself lies inside a snapshot/backup
        base, sep, component = uri.rpartition("-")
        if sep and "/" not in component:
            groups.setdefault(base + sep, set()).add(component)
    ssts = [SSTable(b, frozenset(c)) for b, c in sorted(groups.items())]
    if filenames:
        wanted = set(filenames)
        ssts = [s for s in ssts if s.data_name in wanted]
    return ssts
