"""Spark-native DataSource packaging of the sstable codec:
``spark.read.format("cassandra-sstable")`` and ``spark.readStream``.

The reference is a set of five CLI reports over a Cassandra data
directory (``cli/Driver.java``); its data access happens through
``ISSTableScanner`` inside one JVM. This module packages the SAME
cell-grain stream (`cassandra/DataReader.java:46-123` semantics, decoded
by ``sources/data_cells.py``) as a first-class Spark V2 data source via
the public PySpark 4 Python DataSource API, so the engine's read path
composes with plain ``spark.read`` / ``spark.readStream`` instead of
needing our query helpers:

    spark.dataSource.register(CassandraSSTableDataSource)
    df = (spark.read.format("cassandra-sstable")
          .option("shards_per_sstable", 2)
          .load("/var/lib/cassandra/data"))

Batch semantics are IDENTICAL to ``data_cells(spark, root)`` (one row per
decoded cell/marker, the 18-column DATA_CELLS_SCHEMA); the planning
differences are where the Spark-first value is:

- **Splits**: one input partition per (sstable, shard). Shards use the
  same summary-seek contiguous position ranges as ``data_cells`` -- a
  single 100 GB sstable splits into independent tasks without re-reading
  index bytes.
- **Filter pushdown** (``option("pushdown", "true")`` + the session conf
  ``spark.sql.python.filterPushdown.enabled=true`` -- Spark refuses a
  pushdown reader without the conf, so it is opt-in here):
  * ``keyspace`` / ``table_name`` / ``sstable_id`` equality and IN
    prune whole sstables at PLANNING time -- excluded files are never
    opened, the same file-grain skip as the reference's ``-f``.
  * ``partition_key`` equality / IN switches surviving sstables to the
    POINT-READ path (``sources/lookup.py``: bloom -> summary -> one
    index window -> one data block), with a driver-side Filter.db
    pre-prune: a bloom-negative sstable contributes NO task at all.
    Key literals are rendered strings; each sstable re-verifies the
    encoding against its own key validator and falls back to a full
    scan when the literal cannot be faithfully inverted (e.g. an
    exotic validator) -- pruning never drops a row Spark expects.
  All filters are returned to Spark as unhandled, so Spark re-applies
  them exactly: pushdown here is pruning-only and cannot change results.
- **Streaming**: ``spark.readStream.format("cassandra-sstable")`` tails
  a LIVE data directory for newly flushed/compacted sstables. Offsets
  are per-table tracked windows of the most recent ``grace_generations``
  visible generation keys -- O(tables x grace), not file count: integer
  generations (classic ``<ver>-<gen>-big``) order numerically, 4.1+
  ULID-style ids order lexicographically -- both monotonic per flush by
  construction, but flush and compaction FINALIZE (rename) in any
  order, so a lower generation can become visible late; the tracked
  window picks it up where a single watermark would skip it forever
  (r09 advice). An sstable becomes visible once the components decoding
  needs exist (Data.db + Index.db + Statistics.db; Cassandra finalizes
  a flush by atomic rename, so partially-written components never
  match). Residual miss: a file arriving more than ``grace_generations``
  generations late (out-of-band ``nodetool refresh`` of historical
  files) -- documented; restart with ``startingOffsets=earliest``.

100 TB notes: planning state is one handle per sstable (its component
names and lengths from the shared driver-side inventory -- listing-scale,
same as any file source); decode state per task is one
partition block + the shard's position array (``data_cells`` bounds);
the stream's offset dict is O(tables). Rows cross the Python<->JVM
boundary through the DataSource API's Arrow batching.

No counterpart exists in the reference to cite beyond the scanner
semantics above; this module is additive Spark-native surface.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)

FORMAT_NAME = "cassandra-sstable"

_PRUNE_COLS = ("keyspace", "table_name", "sstable_id")

# planning-time I/O audit, local to the process that plans: tests that
# call a reader's partitions() directly pin that the point-read planner
# reads Filter.db files only below the bloom_prune_max_files threshold
# (spark.read plans in its own plan_data_source_read process, whose
# counts never reach this one)
PLANNING_AUDIT = {"filter_reads": 0}

# the split target of a scan without target_split_bytes (256 MiB)
DEFAULT_SPLIT_BYTES = 256 << 20


def _index_sstables(root: str, filenames=None, needs=("Index.db",)):
    """Live sstable handles under ``root`` that have ``needs`` -- the
    shared inventory (``inventory.sstable_inventory``: snapshot/backup
    exclusion, ``-f``, the root check), listed driver-side."""
    from cassandra_sstable_tools_spark.sources.inventory import live_sstables

    return live_sstables(FORMAT_NAME, root, filenames, needs)


# the data_cells decodability rule, plus the Index.db planning needs
_DECODABLE = ("Index.db", "Data.db", "Statistics.db")


def list_sstables(root: str, filenames=None) -> list[dict]:
    """Live sstables under ``root`` that have an Index.db, as planning
    rows: {path (of the Index.db on the root's filesystem), keyspace,
    table_name, sstable_id, version}. ``filenames`` carries the
    reference's ``-f`` semantics (a set of Data.db basenames,
    `cli/PartitionSizeStatisticsCollector.java:35-59`): pruning happens
    HERE, before any file opens."""
    return [
        {
            "path": s.fs_path("Index.db"),
            "keyspace": ks,
            "table_name": tb,
            "sstable_id": ss,
            "version": s.version,
        }
        for s in _index_sstables(root, filenames)
        for ks, tb, ss in (s.identity,)
    ]


@dataclass
class SSTablePartition(InputPartition):
    """One task's work: a full (shard of an) sstable scan, or -- when
    ``keys`` is set -- a bloom-gated point read of just those keys, or --
    when ``spans`` is set -- summary-floored contiguous range scans.
    ``keys`` holds (display, candidate key bytes) pairs; a display may
    carry several byte candidates when the literal is encoding-ambiguous
    (a text key that LOOKS like a 0x-hex render). ``spans`` holds
    disjoint (lo_bytes, hi_bytes) byte intervals whose union is a proven
    SUPERSET of the pushed string-range predicate (see _range_spans).
    ``sst`` is the ``inventory.SSTable`` handle (None: an empty batch)."""

    sst: object = None
    shard: int = 0
    n_shards: int = 1
    keys: tuple | None = None
    spans: tuple | None = None

    @property
    def path(self) -> str:
        """The partition's Index.db path ("" for an empty batch)."""
        return self.sst.fs_path("Index.db") if self.sst is not None else ""


def _key_candidates(literal: str, key_type: str | None) -> list[bytes]:
    """Candidate key-byte encodings for a rendered partition_key literal.
    With an explicit key_type the inverse is exact (key_encoder). The
    default render is UTF-8-or-0x-hex: a literal that parses as a 0x-hex
    render could ALSO be a text key that happens to look like one, so
    both candidates are probed -- the read path verifies each hit against
    the sstable's own validator rendering, so a spurious candidate can
    only cost a probe, never a wrong row."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        key_encoder,
    )

    if key_type:
        try:
            cands = [key_encoder(key_type)(literal)]
        except (ValueError, OverflowError):
            # an unparseable typed literal (partition_key = 'abc' under
            # key_type=long, or an over-range '300' under tinyint --
            # int.to_bytes raises OverflowError, not ValueError) cannot
            # equal ANY typed render, so zero candidates is provably
            # correct -- the same query without pushdown returns zero
            # rows, and pushdown must not turn that into a planning
            # crash (r09 advice + review finding)
            return []
        if key_type == "inet" and len(cands[0]) == 4:
            # a dotted-quad display also matches the 16-byte IPv4-MAPPED
            # on-disk form (Java's InetAddress.getByAddress renders
            # ::ffff:a.b.c.d as an Inet4Address, so both encodings
            # re-render to this literal); probe both or the mapped key
            # silently misses (review finding)
            cands.append(b"\x00" * 10 + b"\xff\xff" + cands[0])
        return cands
    cands = [literal.encode("utf-8")]
    if literal.startswith("0x") and len(literal) % 2 == 0:
        try:
            cands.append(bytes.fromhex(literal[2:]))
        except ValueError:
            pass
    return cands


# any real partition key is at most u16-length (65535 bytes), so this
# sentinel is strictly greater than every key: the "unbounded above" bound
_MAX_KEY = b"\xff" * 65536


def _range_spans(
    lo_s: str | None, hi_s: str | None
) -> list[tuple[bytes, bytes]]:
    """Byte intervals whose union COVERS every key whose RENDERED form
    falls in the string range [lo_s, hi_s] (None = unbounded). The
    default render is UTF-8-or-0x-hex, which splits key space into two
    order-consistent families:

    - clean-UTF-8 keys render as themselves, and UTF-8 byte order equals
      code-point string order (a designed property of UTF-8) -- so the
      UTF-8-encoded bounds cover them exactly;
    - other keys render '0x' + lowercase hex, and fixed-width lowercase
      hex is order-isomorphic to the bytes -- such a render lies in
      [lo_s, hi_s] only if the string range intersects ["0x", "0y"), and
      then its bytes lie in the (conservatively widened) hex-decoded
      bounds.

    Overlapping intervals are merged so a downstream per-span scan never
    emits a record twice. The result may over-cover (Spark re-applies the
    predicate); it can never under-cover -- that is the pushdown safety
    contract, pinned by a randomized differential."""
    lo_u = lo_s.encode("utf-8") if lo_s is not None else b""
    hi_u = hi_s.encode("utf-8") if hi_s is not None else _MAX_KEY
    spans = []
    if lo_u <= hi_u:
        spans.append((lo_u, hi_u))
    # hex-render family: only when [lo_s, hi_s] intersects ["0x", "0y")
    if (lo_s is None or lo_s < "0y") and (hi_s is None or hi_s >= "0x"):
        def _lc_prefix(s: str) -> bytes:
            """Longest even LOWERCASE-hex prefix of the bound's hex part.
            Renders use only [0-9a-f]; a bound character outside that
            alphabet breaks the digit<->nibble order isomorphism
            (bytes.fromhex would happily take 'C' as 0xc, but 'C' sorts
            BELOW every digit's render) -- so the trustworthy prefix ends
            at the first such character, and both bounds widen from
            there (floor rounds down, ceil pads 0xff)."""
            h = s[2:] if s.startswith("0x") else ""
            n = 0
            while n < len(h) and h[n] in "0123456789abcdef":
                n += 1
            return bytes.fromhex(h[: n - n % 2])

        def _hex_floor(s: str) -> bytes:
            if s is None or s <= "0x":
                return b""
            return _lc_prefix(s)

        def _hex_ceil(s: str) -> bytes:
            if s is None or s >= "0y":
                return _MAX_KEY
            if not s.startswith("0x"):
                return b""  # s < "0x": no hex render can be <= s
            # pad with the FULL max-key width: a 64-byte pad under-covered
            # a key carrying 65+ 0xff bytes after the trusted prefix
            # (review finding) -- comparisons short-circuit, so the wide
            # sentinel costs nothing
            return _lc_prefix(s) + _MAX_KEY
        lo_h, hi_h = _hex_floor(lo_s), _hex_ceil(hi_s)
        if lo_h <= hi_h:
            spans.append((lo_h, hi_h))
    # merge overlaps so per-span scans are disjoint
    spans.sort()
    merged: list[tuple[bytes, bytes]] = []
    for lo, hi in spans:
        if merged and lo <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


class SSTableCellReader(DataSourceReader):
    """Batch reader: one InputPartition per (sstable, shard); rows are
    the 18-column cell-grain records of ``data_cells``."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError(
                "cassandra-sstable needs a path: .load('/data/dir')"
            )
        files_opt = options.get("files")
        self.filenames = (
            [f.strip() for f in files_opt.split(",") if f.strip()]
            if files_opt
            else None
        )
        shards_opt = options.get("shards_per_sstable")
        self.n_shards = int(shards_opt) if shards_opt is not None else None
        if self.n_shards is not None and self.n_shards < 1:
            raise ValueError("shards_per_sstable must be >= 1")
        # byte-bounded auto-splits (the FileScan maxPartitionBytes idea):
        # without an explicit shards_per_sstable, each sstable splits into
        # ceil(Data.db bytes / target) summary-seek shards, so one giant
        # sstable stops gating wall-clock on a single task (measured at a
        # 10x tree: 57s single-task -> ~15s; SCALE.md r09 s2)
        # Default: a fixed 256 MiB. spark.read plans in a separate Python
        # process (plan_data_source_read) that has no active session, so
        # the core-filling rule of the mapInArrow scan
        # (data_cells.auto_split_bytes) has no defaultParallelism to read.
        self.target_split_bytes = int(
            options.get("target_split_bytes", DEFAULT_SPLIT_BYTES)
        )
        if self.target_split_bytes < 1 << 20:
            raise ValueError("target_split_bytes must be >= 1 MiB")
        self.key_type = options.get("key_type")
        # driver-side bloom pre-prune threshold: planning reads one
        # Filter.db per surviving sstable (KB each -- a win while the
        # listing is small, since a bloom-negative sstable contributes no
        # task), but at a 100k-sstable tree that is 100k driver file
        # reads DURING PLANNING. Above this file count the pre-prune
        # moves into the tasks (the read path bloom-checks first anyway,
        # so the only cost is scheduling no-op tasks).
        self.bloom_prune_max_files = int(
            options.get("bloom_prune_max_files", "256")
        )
        # point-read vs scan crossover: per-key point reads cost O(ms)
        # each (bloom + summary + one index window + one block) while a
        # full scan amortizes the whole file over every key -- measured
        # at sf0.1, a 9.3k-key pushed IN took 7.5s through point reads
        # vs ~2.5s as scan+filter. Above this many distinct pushed keys
        # the planner keeps the scan (Spark re-applies the predicate, so
        # the choice is pruning-only either way).
        self.pointread_max_keys = int(
            options.get("pointread_max_keys", "4096")
        )
        # set by pushFilters (pushdown subclass only)
        self._allowed: dict[str, set] = {}
        self._key_literals: set[str] | None = None
        self._range_lo: str | None = None  # max of pushed lower bounds
        self._range_hi: str | None = None  # min of pushed upper bounds
        self._has_range = False
        self._prunable = False  # planning contradiction -> zero partitions

    # -- planning ---------------------------------------------------------

    def _listing(self) -> list:
        ssts = _index_sstables(self.root, self.filenames)
        for col, allowed in self._allowed.items():
            i = _PRUNE_COLS.index(col)
            ssts = [s for s in ssts if s.identity[i] in allowed]
        return ssts

    def partitions(self) -> Sequence[InputPartition]:
        if self._prunable:
            return [SSTablePartition(keys=())]
        ssts = self._listing()
        if (
            self._key_literals is not None
            and len(self._key_literals) <= self.pointread_max_keys
        ):
            return self._point_read_partitions(ssts)
        if self._has_range and not self.key_type:
            # range pushdown is sound only for the DEFAULT rendering
            # (UTF-8-or-hex -- both families order-consistent with bytes,
            # see _range_spans); typed renders (e.g. decimal longs) order
            # differently than their bytes, so they keep the full scan
            spans = tuple(_range_spans(self._range_lo, self._range_hi))
            if not spans:
                return [SSTablePartition(keys=())]
            return [
                SSTablePartition(sst=sst, spans=spans) for sst in ssts
            ] or [SSTablePartition(keys=())]
        return [
            SSTablePartition(sst=sst, shard=s, n_shards=k)
            for sst in ssts
            for k in (self._shards_for(sst),)
            for s in range(k)
        ] or [SSTablePartition(keys=())]

    def _shards_for(self, sst) -> int:
        """Split count for one sstable: the explicit option wins; else
        ceil(Data.db bytes / target_split_bytes), capped so a pathological
        file cannot explode the task count."""
        if self.n_shards is not None:
            return self.n_shards
        if "Data.db" not in sst.components:
            return 1
        return max(1, min(
            256, -(-sst.length("Data.db") // self.target_split_bytes)
        ))

    def _point_read_partitions(self, ssts: list) -> list[InputPartition]:
        """Point-read planning: bloom-probe every candidate key against
        each sstable's Filter.db DRIVER-side (a bloom filter is KB-scale;
        reading it here means a bloom-negative sstable contributes no
        task) -- but only while the surviving listing is small
        (``bloom_prune_max_files``): above that, planning stays
        listing-only and each TASK bloom-checks first (the read path's
        own step 1), trading pruned tasks for O(1) driver I/O. Sstables
        without a filter stay in with all keys."""
        from cassandra_sstable_tools_spark.sources.bloom import (
            might_contain_batch,
            parse_filter_db,
        )

        targets: list[tuple[str, bytes]] = []
        for lit in sorted(self._key_literals or ()):
            for kb in _key_candidates(lit, self.key_type):
                targets.append((lit, kb))
        visible = [s for s in ssts if set(_DECODABLE) <= s.components]
        driver_prune = targets and len(visible) <= self.bloom_prune_max_files
        parts: list[InputPartition] = []
        for sst in visible:
            keep = targets
            if driver_prune and "Filter.db" in sst.components:
                PLANNING_AUDIT["filter_reads"] += 1
                with sst.open("Filter.db") as f:
                    filt = parse_filter_db(
                        f.read(), source=sst.path("Filter.db")
                    )
                passes = might_contain_batch(filt, [kb for _, kb in targets])
                keep = [t for t, ok in zip(targets, passes) if ok]
            if keep:
                parts.append(SSTablePartition(sst=sst, keys=tuple(keep)))
        return parts or [SSTablePartition(keys=())]

    # -- execution --------------------------------------------------------

    def read(self, partition: SSTablePartition) -> Iterator:
        """Emits pyarrow RecordBatches (Spark 4's Python DataSource fast
        path): the worker forwards them to the JVM as-is, skipping the
        per-value converter loop it runs over yielded tuples -- the row
        marshal was the V2 path's measured overhead vs the mapInPandas
        scan. Row content is identical; the batch schema mirrors the
        source's declared DDL."""
        from cassandra_sstable_tools_spark.sources.data_cells import (
            _cell_batches,
            _pa_cells_schema,
            scan_sstable_cell_batches,
        )

        if (
            partition.sst is not None
            and partition.keys is None
            and partition.spans is None
        ):
            # full scans take the C columnar kernel straight to batches
            # (point/span reads stay on the tuple path: per-key record
            # volume is small and their decode goes through the lookup
            # window readers, not the scan)
            return scan_sstable_cell_batches(
                partition.sst, partition.shard, partition.n_shards
            )
        return _cell_batches(
            self._read_rows(partition), _pa_cells_schema(False)
        )

    def _read_rows(self, partition: SSTablePartition) -> Iterator[tuple]:
        if partition.sst is None:
            return iter(())
        if partition.keys is not None:
            return self._read_point(partition)
        if partition.spans is not None:
            return self._read_spans(partition)
        from cassandra_sstable_tools_spark.sources.data_cells import (
            scan_sstable_cell_rows,
        )

        return iter(
            scan_sstable_cell_rows(
                partition.sst, partition.shard, partition.n_shards
            )
        )

    def _read_spans(self, partition: SSTablePartition) -> Iterator[tuple]:
        """Summary-floored contiguous range scans for the pushed spans.
        A raw-key range is contiguous only in byte order: sstables
        declaring any other partitioner fall back to a full scan (the
        re-applied Spark predicate keeps results exact either way)."""
        from cassandra_sstable_tools_spark.sources.data_cells import (
            scan_sstable_cell_rows,
        )
        from cassandra_sstable_tools_spark.sources.lookup import (
            _range_in_sstable,
            _sstable_ctx,
        )
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            uses_default_key_render,
        )

        sst = partition.sst
        ks, tb, ss = sst.identity
        ctx = _sstable_ctx(sst)
        if ctx is None:
            return
        if (
            ctx["partitioner"].rsplit(".", 1)[-1] != "ByteOrderedPartitioner"
            # the span math models the DEFAULT rendering; a typed key
            # validator in the sstable's own header renders (and the
            # re-applied predicate compares) in an order unrelated to the
            # key bytes, so spans could UNDER-cover -- full-scan instead
            or not uses_default_key_render(ctx["header"].key_type)
        ):
            yield from scan_sstable_cell_rows(sst)
            return
        for lo_b, hi_b in partition.spans:
            got = _range_in_sstable(sst, lo_b, hi_b, ctx=ctx)
            if got is None:
                return
            _audit, records = got
            for rec in records:
                yield (ks, tb, ss) + rec

    def _read_point(self, partition: SSTablePartition) -> Iterator[tuple]:
        """Bloom -> summary -> index-window -> data-block reads for the
        pushed keys, through the same ``_lookup_in_sstable`` the lookup
        CLI certifies. Safety valve: a literal whose candidate bytes do
        NOT render back to the literal under this sstable's own key
        validator cannot be probed faithfully -- that sstable falls back
        to a full scan (Spark re-applies the equality afterwards, so the
        fallback is correctness-neutral, just slower)."""
        from cassandra_sstable_tools_spark.sources.data_cells import (
            scan_sstable_cell_rows,
        )
        from cassandra_sstable_tools_spark.sources.lookup import (
            _lookup_in_sstable,
            _sstable_ctx,
        )
        from cassandra_sstable_tools_spark.sources.sstable_binary import (
            render_typed,
        )

        sst = partition.sst
        ks, tb, ss = sst.identity
        ctx = _sstable_ctx(sst)
        if ctx is None:
            return
        key_type = ctx["header"].key_type
        faithful: list[tuple[str, bytes]] = []
        for lit, kb in partition.keys:
            if render_typed(kb, key_type) != lit:
                # the literal cannot be inverted for THIS validator:
                # full-scan this sstable instead of silently missing rows
                yield from scan_sstable_cell_rows(sst)
                return
            faithful.append((lit, kb))
        if not faithful:
            return
        got = _lookup_in_sstable(sst, faithful)
        if got is None:
            return
        _audits, records = got
        for rec in records:
            yield (ks, tb, ss) + rec


class SSTableCellPushdownReader(SSTableCellReader):
    """The pushdown-enabled reader. Kept as a SUBCLASS because Spark
    refuses any reader that overrides pushFilters while
    ``spark.sql.python.filterPushdown.enabled`` is false (a loud
    DATA_SOURCE_PUSHDOWN_DISABLED, pyspark worker
    plan_data_source_read.py) -- so pushdown is an explicit
    ``option("pushdown", "true")`` + conf pair, and the default reader
    stays usable in any session."""

    def pushFilters(self, filters: list[Filter]) -> list[Filter]:
        from pyspark.sql.datasource import (
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        key_sets: list[set[str]] = []
        for f in filters:
            attr = tuple(f.attribute)
            if len(attr) != 1:
                continue
            (col,) = attr
            if col == "partition_key" and isinstance(
                f,
                (GreaterThan, GreaterThanOrEqual, LessThan,
                 LessThanOrEqual),
            ) and isinstance(f.value, str):
                # bounds are INCLUSIVE supersets (strict ops widen by one
                # value -- Spark re-applies the exact predicate)
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    if self._range_lo is None or f.value > self._range_lo:
                        self._range_lo = f.value
                else:
                    if self._range_hi is None or f.value < self._range_hi:
                        self._range_hi = f.value
                self._has_range = True
                continue
            if isinstance(f, EqualTo):
                vals = {f.value} if f.value is not None else None
            elif isinstance(f, In):
                vals = {v for v in f.value if v is not None}
            else:
                continue
            if vals is None:
                continue
            if col in _PRUNE_COLS:
                prev = self._allowed.get(col)
                self._allowed[col] = (
                    vals if prev is None else (prev & vals)
                )
                if not self._allowed[col]:
                    self._prunable = True
            elif col == "partition_key":
                key_sets.append({v for v in vals if isinstance(v, str)})
        if key_sets:
            inter = set.intersection(*key_sets)
            self._key_literals = inter
            if not inter:
                self._prunable = True
        # pruning-only pushdown: Spark re-applies EVERY filter, so the
        # planner can be aggressive without owning row-level semantics
        return filters


def _parse_rescan_gens(spec: str | None) -> dict:
    """``rescan_gens`` option -> {table: "*" | frozenset(gen keys)}.
    Format: ';'-separated ``ks/tb:GENS`` where GENS is '*' or a
    ','-separated list of sstable ids (encoded through _gen_key, same as
    the offsets). Malformed specs fail loud at reader construction."""
    if not spec:
        return {}
    out: dict = {}
    for entry in spec.split(";"):
        entry = entry.strip()
        if not entry:
            continue
        table, sep, gens = entry.partition(":")
        table = table.strip()
        if not sep or not table or "/" not in table:
            raise ValueError(
                f"rescan_gens entry {entry!r} must be 'ks/tb:*' or "
                "'ks/tb:gen,gen,...'"
            )
        gens = gens.strip()
        if gens == "*":
            out[table] = "*"
            continue
        ids = [g.strip() for g in gens.split(",") if g.strip()]
        if not ids:
            raise ValueError(
                f"rescan_gens entry {entry!r} lists no generations"
            )
        out[table] = frozenset(_gen_key(g) for g in ids)
    return out


def _gen_key(sstable_id: str) -> str:
    """Watermark-sortable encoding of an sstable generation: classic
    integer generations order numerically ('i' + 20 digits), 4.1+
    ULID-style string ids order lexicographically ('s' + id). 'i' < 's'
    keeps a table that migrated from int gens to ULIDs moving forward."""
    try:
        return "i%020d" % int(sstable_id)
    except ValueError:
        return "s" + sstable_id


class SSTableStreamReader(DataSourceStreamReader):
    """Micro-batch stream over a LIVE Cassandra data directory: each
    batch decodes the sstables that appeared since the committed offset.
    Executor-side reads (this is the full DataSourceStreamReader, not
    the driver-reading Simple variant); one task per new sstable.

    Offsets (r10): per table, the sorted list of the most recent
    ``grace_generations`` VISIBLE generation keys (``{"s": {"ks/tb":
    [gen, ...]}}``). An offset claims processed = everything strictly
    below its tracked window's floor, plus exactly the listed gens; a
    batch emits what the end offset claims minus what the start offset
    claims. This fixes the r09 single-watermark gap: flush and
    compaction FINALIZE in any order, so a lower-generation sstable can
    become visible after a higher one advanced the watermark -- with the
    tracked window it is simply absent from ``seen`` and gets picked up
    by the next batch. Offset size is O(tables x grace), independent of
    file count. Legacy ``{"w": ...}`` single-watermark offsets (pre-r10
    checkpoints) are read as a one-entry window, preserving their exact
    old semantics.

    Out-of-band refresh recovery (r11): a file arriving MORE than
    ``grace_generations`` generations late (e.g. ``nodetool refresh`` of
    historical files) falls below a full window's floor, which both
    offsets claim -- invisible to the window algebra. The
    ``rescan_gens`` option recovers it WITHOUT checkpoint surgery:
    ``option("rescan_gens", "ks/tb:*")`` re-emits every visible
    below-floor generation of that table once; ``"ks/tb:12,13;ks/tb2:7"``
    re-emits exactly those generations (when below the floor -- gens
    still inside the tracked window were processed normally and are
    never duplicated). One-shot by construction: each new offset records the
    matching generations under ``rr`` (claimed-as-rescanned), so a
    committed offset carrying ``rr`` never re-emits them again; only
    offsets minted BEFORE the option was set (no ``rr``) trigger the
    re-emit. While the option is set, offsets grow by O(matching gens) --
    remove it after the recovery batch commits (documented recipe)."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError(
                "cassandra-sstable stream needs a path: .load('/data/dir')"
            )
        start = options.get("startingOffsets", "earliest").lower()
        if start not in ("earliest", "latest"):
            raise ValueError(
                f"startingOffsets must be earliest|latest, got {start!r}"
            )
        self._start_latest = start == "latest"
        self.grace = int(options.get("grace_generations", "32"))
        if self.grace < 1:
            raise ValueError("grace_generations must be >= 1")
        self._rescan = _parse_rescan_gens(options.get("rescan_gens"))
        # monotonic rescanned-set accumulator (see _with_rescan)
        self._rr_acc: dict[str, set] = {}

    def _list_gens(self) -> dict[str, list[str]]:
        """table -> sorted gen keys of ALL visible sstables."""
        seen: dict[str, list[str]] = {}
        for sst in _index_sstables(self.root, needs=_DECODABLE):
            ks, tb, ss = sst.identity
            seen.setdefault(f"{ks}/{tb}", []).append(_gen_key(ss))
        return {t: sorted(g) for t, g in seen.items()}

    def _snapshot(self) -> dict[str, list[str]]:
        """table -> the last ``grace`` visible gen keys (the tracked
        window; max = the table's watermark)."""
        return {t: g[-self.grace:] for t, g in self._list_gens().items()}

    def _with_rescan(self, offset: dict) -> dict:
        """Record the rescan_gens-matching visible generations in the
        offset (``rr``): an offset carrying a gen under ``rr`` claims it
        normally, so the forced re-emit happens exactly once -- against
        committed offsets minted before the option was set. rr is
        MONOTONIC across this reader's offsets (accumulated in
        ``_rr_acc``): a gen transiently invisible at one mint must not
        drop out of rr, or its reappearance would be claimed by the end
        offset but not the start and re-emit a duplicate (r11 review)."""
        if not self._rescan:
            return offset
        gens = self._list_gens()
        for t, spec in self._rescan.items():
            avail = gens.get(t, [])
            if spec == "*":
                floor = offset.get("s", {}).get(t, [""])[0] if \
                    offset.get("s", {}).get(t) else ""
                hit = [g for g in avail if g < floor]
            else:
                hit = [g for g in avail if g in spec]
            if hit:
                self._rr_acc.setdefault(t, set()).update(hit)
        if self._rr_acc:
            offset = dict(offset)
            offset["rr"] = {t: sorted(g) for t, g in self._rr_acc.items()}
        return offset

    def _claims(self, offset: dict, table: str, g: str) -> bool:
        """Does ``offset`` claim generation ``g`` of ``table`` as already
        processed? Membership in the tracked window always claims;
        BELOW-the-floor claims only when the window is FULL (a non-full
        window has seen every visible generation ever, so an unseen gen
        below its max is precisely the late-finalizing file the window
        exists to catch). The window size rides in the offset (``k``) so
        a grace reconfiguration cannot re-emit files a FULL old window
        had already claimed below its floor. Under ``rescan_gens``, a
        matching below-floor gen is claimed only when the offset records
        it as rescanned (``rr``) -- see _with_rescan."""
        legacy = offset.get("w")
        if legacy is not None:
            wm = legacy.get(table, "")
            base = bool(wm) and g <= wm
            if base and self._rescan:
                # a legacy checkpoint can need the same recovery; legacy
                # offsets never carry rr, so matching gens re-emit once
                # and the next (new-format) offset records them. EXACT
                # gen specs only: a single watermark cannot distinguish
                # 'historical' from 'just processed', so '*' under a
                # legacy offset would duplicate recent batches -- it
                # keeps legacy semantics instead (name the generations)
                spec = self._rescan.get(table)
                if spec is not None and spec != "*" and g in spec:
                    return g in offset.get("rr", {}).get(table, [])
            return base
        seen = offset.get("s", {}).get(table)
        if not seen:
            return False
        if g in seen:
            return True
        full = len(seen) >= offset.get("k", len(seen))
        base = full and g < seen[0]
        if base and self._rescan:
            spec = self._rescan.get(table)
            if spec is not None and (spec == "*" or g in spec):
                return g in offset.get("rr", {}).get(table, [])
        return base

    def initialOffset(self) -> dict:
        return self._with_rescan({
            "s": self._snapshot() if self._start_latest else {},
            "k": self.grace,
        })

    def latestOffset(self) -> dict:
        return self._with_rescan({"s": self._snapshot(), "k": self.grace})

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        parts = []
        for sst in _index_sstables(self.root, needs=_DECODABLE):
            ks, tb, ss = sst.identity
            t, g = f"{ks}/{tb}", _gen_key(ss)
            if self._claims(end, t, g) and not self._claims(start, t, g):
                parts.append(SSTablePartition(sst=sst))
        # Spark requires >= 1 partition per batch; an empty batch reads none
        return parts or [SSTablePartition(keys=())]

    def read(self, partition: SSTablePartition) -> Iterator:
        if partition.sst is None:
            return iter(())
        from cassandra_sstable_tools_spark.sources.data_cells import (
            scan_sstable_cell_batches,
        )

        # pyarrow RecordBatches, same fast path as the batch reader
        return scan_sstable_cell_batches(partition.sst)

    def commit(self, end: dict) -> None:
        pass


class CassandraSSTableDataSource(DataSource):
    """``spark.read.format("cassandra-sstable")`` — the engine's codec as
    a first-class Spark source. Options:

    - ``files``: comma-separated Data.db basenames (the reference's -f)
    - ``shards_per_sstable``: split each sstable into exactly N
      contiguous-range tasks (summary-seek slices); overrides auto-split
    - ``target_split_bytes``: byte-bounded AUTO-splits (default a fixed
      256 MiB, the FileScan maxPartitionBytes idea; the planner has no
      session to size it by cores) -- each sstable plans
      ceil(bytes/target) shards, so one giant sstable never gates
      wall-clock on a single task
    - ``pushdown``: 'true' enables planning-time filter pushdown (needs
      session conf spark.sql.python.filterPushdown.enabled=true)
    - ``key_type``: typed partition_key literal encoding for pushdown
      point reads (long/int/uuid/timeuuid/composite(...); default
      UTF-8-or-0x-hex)
    - ``bloom_prune_max_files``: max surviving sstables for which
      point-read PLANNING reads Filter.db driver-side (default 256);
      above it, tasks bloom-check instead (O(1) driver planning I/O)
    - ``pointread_max_keys``: max distinct pushed keys for the
      point-read path (default 4096); above it the planner keeps the
      scan -- per-key reads lose to one amortized pass at large K
    - ``startingOffsets`` (stream): earliest (default) | latest
    - ``grace_generations`` (stream): tracked-window size for
      late-finalizing sstables (default 32)
    - ``clustering_type`` (write): typed single-component clustering
      (long/int/uuid/...; default UTF8) -- displays encode through the
      typed inverse and must re-render identically
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        from cassandra_sstable_tools_spark.sources.data_cells import (
            DATA_CELLS_SCHEMA,
        )

        return DATA_CELLS_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        if str(self.options.get("pushdown", "false")).lower() == "true":
            return SSTableCellPushdownReader(self.options)
        return SSTableCellReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return SSTableStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        from cassandra_sstable_tools_spark.sources.pyds_writer import (
            SSTableWriter,
        )

        return SSTableWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        from cassandra_sstable_tools_spark.sources.pyds_writer import (
            SSTableStreamWriter,
        )

        return SSTableStreamWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotent format registration for a session."""
    spark.dataSource.register(CassandraSSTableDataSource)


# --------------------------------------------------------------------------
# Staged queries (SURVEY §2.9 convention): fully built + locally
# oracle-proven via tests/test_staged_queries.py, registered in r10
# --------------------------------------------------------------------------


def ds_cells_cassdir(spark, sf_dir: str):
    """The DataSource-path certificate: the SAME cell-grain frame as
    ``data_cells_cassdir``, read through ``spark.read.format(...)`` --
    a hash match proves the V2 packaging (partition planning, per-task
    decode, row marshaling) is bit-faithful to the mapInPandas path."""
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    register(spark)
    return spark.read.format(FORMAT_NAME).load(root)


def ds_pointread_cassdir(spark, sf_dir: str):
    """The pushdown certificate: the md5-'0' key cohort read through a
    ``partition_key IN (...)`` filter on the FORMAT with pushdown on --
    planning bloom-prunes sstables and each task runs the point-read
    path, yet the records hash-match the same ``decoded`` oracle frame
    the full scan certifies."""
    from cassandra_sstable_tools_spark.sources import tpch_adapter
    from cassandra_sstable_tools_spark.sources.data_cells import (
        DATA_CELLS_SCHEMA,
    )
    from cassandra_sstable_tools_spark.sources.lookup import _KEY_PREFIX
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )
    from pyspark.sql import functions as F

    root = materialize_index_files(spark, sf_dir)
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    keys = sorted(
        r["partition_key"]
        for r in tpch_adapter.index_entries(spark, sf_dir)
        .select("partition_key")
        .where(F.md5("partition_key").startswith(_KEY_PREFIX))
        .distinct()
        .collect()
    )
    if not keys:
        # degenerate corpora can leave the cohort empty: the typed empty
        # frame IS the answer (the lookup certificate's documented rule)
        return spark.createDataFrame([], DATA_CELLS_SCHEMA)
    df = (
        spark.read.format(FORMAT_NAME)
        .option("pushdown", "true")
        .load(root)
    )
    return df.where(df.partition_key.isin(keys))


def ds_rangeread_cassdir(spark, sf_dir: str):
    """The range-pushdown certificate: a partition_key BETWEEN through
    the FORMAT with pushdown on -- planning emits summary-floored span
    scans (see _range_spans) -- hash-matched against the same ``decoded``
    oracle frame under the same BETWEEN (the fixed range the
    partition_range_cassdir certificate uses)."""
    from cassandra_sstable_tools_spark.sources.lookup import (
        _RANGE_HI,
        _RANGE_LO,
    )
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format(FORMAT_NAME)
        .option("pushdown", "true")
        .load(root)
    )
    return df.where(df.partition_key.between(_RANGE_LO, _RANGE_HI))


_RT_COLS = (
    "partition_key, kind, clustering, column_name, cell_path, writetime, "
    "ttl, local_deletion_time, is_tombstone, is_expiring, is_counter, "
    "cell_value, range_start, range_end, value_len"
)


def ds_write_roundtrip_cassdir(spark, sf_dir: str):
    """The SINK certificate: decode the planted tree LOSSLESSLY
    (with_values -- payload bytes ride the frame and flow through the
    writer's value_bytes path, the r10 payload-safety surface), write it
    back out as new sstables through ``df.write.format(...)``, decode
    the WRITTEN tree and hash-match it against the oracle -- certifying
    the whole encoder chain (header inference incl. declared marshal
    types, cell/marker/deletion encoding, component set) through the
    driver. Output keeps ``value_len`` (the payload column the r09
    verdict asked the certificate to cover) and drops identity columns
    (fresh generations), phys_size (the minimal inferred header makes
    column-subset bitmaps narrower -- a property of the re-encoding) and
    the binary value_bytes/value_marshal pair (binary columns are not
    SQL-oracle-hashable; their byte-exactness is pinned by
    tests/test_compaction.py); per-partition deletion headers collapse
    to the strongest, Cassandra's one-deletion-per-partition-per-sstable
    invariant, mirrored in SQL."""
    import tempfile

    from cassandra_sstable_tools_spark.sources.data_cells import (
        data_cells,
    )
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    register(spark)
    drop = ["keyspace", "table_name", "sstable_id", "phys_size"]
    src = data_cells(spark, root, with_values=True).drop(*drop)
    out = tempfile.mkdtemp(prefix="sstable_sink_rt_")
    # the returned frame evaluates lazily, so the tree cannot be removed
    # here; reap it at interpreter exit (repeated driver/bench runs were
    # accumulating one orphan tree per invocation)
    import atexit
    import shutil

    atexit.register(shutil.rmtree, out, ignore_errors=True)
    (
        src.repartitionByRange(2, "partition_key")
        .write.format(FORMAT_NAME)
        .option("keyspace", "rt")
        .option("table", "rt")
        .mode("append")
        .save(out)
    )
    if not list_sstables(out):
        # empty corpus wrote nothing: the typed empty frame is the answer
        return src.drop("value_bytes", "value_marshal", "clustering_marshal")
    # the re-decode needs only the base frame (value_len rides it); a
    # with_values decode here would carry every payload byte through
    # Arrow just to drop it driver-side (review finding)
    return data_cells(spark, out).drop(*drop)


def _staged():
    from cassandra_sstable_tools_spark.oracles import with_adapter
    from cassandra_sstable_tools_spark.sources.data_cells import (
        ORACLES as _DC_ORACLES,
        _phys_ctes,
    )
    from cassandra_sstable_tools_spark.sources.lookup import (
        _KEY_PREFIX,
        _RANGE_HI,
        _RANGE_LO,
    )

    pointread_oracle = with_adapter(
        f",{_phys_ctes()}\n"
        "SELECT * FROM decoded "
        f"WHERE substr(md5(partition_key), 1, 1) = '{_KEY_PREFIX}'"
    )
    rangeread_oracle = with_adapter(
        f",{_phys_ctes()}\n"
        "SELECT * FROM decoded "
        f"WHERE partition_key BETWEEN '{_RANGE_LO}' AND '{_RANGE_HI}'"
    )
    roundtrip_oracle = with_adapter(
        f",{_phys_ctes()}\n"
        f"SELECT {_RT_COLS} FROM decoded WHERE kind <> 'PARTITION_DELETE'\n"
        "UNION ALL\n"
        "SELECT partition_key, kind, clustering, column_name, cell_path,\n"
        "       MAX(writetime) AS writetime, ttl,\n"
        "       MAX(local_deletion_time) AS local_deletion_time,\n"
        "       is_tombstone, is_expiring, is_counter, cell_value,\n"
        "       range_start, range_end, value_len\n"
        "FROM decoded WHERE kind = 'PARTITION_DELETE'\n"
        "GROUP BY partition_key, kind, clustering, column_name, cell_path,\n"
        "         ttl, is_tombstone, is_expiring, is_counter, cell_value,\n"
        "         range_start, range_end, value_len"
    )
    return (
        {
            "ds_cells_cassdir": ds_cells_cassdir,
            "ds_pointread_cassdir": ds_pointread_cassdir,
            "ds_rangeread_cassdir": ds_rangeread_cassdir,
            "ds_write_roundtrip_cassdir": ds_write_roundtrip_cassdir,
        },
        {
            # bit-identical to the mapInPandas certificate's frame
            "ds_cells_cassdir": _DC_ORACLES["data_cells_cassdir"],
            "ds_pointread_cassdir": pointread_oracle,
            "ds_rangeread_cassdir": rangeread_oracle,
            "ds_write_roundtrip_cassdir": roundtrip_oracle,
        },
    )


# REGISTERED in r10 (SURVEY §2.9): staged through r09's session-2, locally
# oracle-proven by tests/test_staged_queries.py's degenerate-regime sweeps,
# now in the driver window (never-green first by the rotation key)
QUERIES, ORACLES = _staged()
