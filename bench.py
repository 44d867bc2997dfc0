"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Protocol (BASELINE.md): local[$SPARK_GRAFT_CPUS], AQE on, exact percentiles,
results collected to driver. Per query: 1 warm-up run then N_RUNS timed runs
(default 5; $SPARK_GRAFT_BENCH_RUNS overrides). Prints TWO JSON lines:
first the FULL record
  {"metric": "...", "value": <total of medians sec>, "unit": "sec",
   "queries": {name: median sec, ...},
   "spread": {name: {"min": s, "median": s, "max": s, "n": N}, ...},
   "secondary": {name: median sec, ...}, "sf": <dir>}
then, LAST, a compact line with the same metric/value/queries/secondary but
no per-row spread. The final line is the machine contract: it stays well
under a 2000-byte tail capture (the r12 driver lost its whole
round-over-round PERF table because the single full line outgrew exactly
that window and was cut mid-line -- r12 VERDICT "Next round" #2). The full
record directly precedes it for humans and for triage tooling; both lines
carry the same medians.

`spread` exists because a single median cannot distinguish a plan regression
from box noise (r04: the driver's run measured 1.55x an idle-box run of the
SAME code, with individual queries 5-6x their bars purely from load
transients). min is the load-insensitive floor -- a plan regression moves
min; a noisy box moves max while min stays put.

`secondary` covers the expensive iterative/cold operators (connected
components, pagerank, chunk dedup) that are deliberately kept out of the
headline total but previously had no recorded perf trajectory at all; bars
live in BASELINE.md alongside the headline bars.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One representative query per reference command family + heavyweight extras
# from the extension surface (joins, dedup pipeline, ANN, sessionization).
HEADLINE = [
    "summary",
    "sstables",
    "pstats_summary",
    "pstats_top_size",
    "cfstats_global",
    "cfstats_sstables",
    "cfstats_top_size",
    "purge_top",
    "tpch_q10",
    "corpus_keep_list",
    "ann_ivf_topk",
    "sessionize",
    # r03 additions: user-facing extension surfaces that previously had no
    # perf trajectory (events rollup, multimodal plumbing, near-dup join,
    # streaming dedup drain). Bars recorded in SCALE.md's bench table.
    "events_hourly",
    "media_metadata",
    "minhash_lsh_pairs",
    "stream_dedup_events",
]

# Expensive iterative / cold operators: not part of the headline total (their
# cost is round-count-dominated, not plan-dominated) but benched so a
# regression in an iterative operator is as visible as a headline one.
SECONDARY = [
    "chunk_dedup_stats",
    "dedup_clusters_star",
    "supplier_part_pagerank",
    # r06 additions: the two heaviest banded near-dup operators, tracked
    # since the bucket-capped band join + 64-bit simhash landed. Bars in
    # BASELINE.md §r06.
    "simhash_neardup_pairs",
    "embedding_neardup_pairs_proj",
    # r07: cold IVF build+compact -- the cost the warm ann_ivf_topk memo
    # deliberately amortizes away; benched so it cannot hide a regression.
    "ann_index_build",
    # r07: the directory-only pstats path (binary Index.db parse +
    # CompressionInfo/Data.db length resolve) -- real-file IO, a different
    # cost shape than every parquet scan above. Fixture materialization is
    # marker-cached, so the warm-up run absorbs the one-time encode.
    "pstats_summary_cassdir",
    # r07 session 3: the full directory listing (Statistics.db StatsMetadata
    # parse joined with Index.db counts + length resolve) -- tracks the
    # Statistics.db parse + 3-way broadcast-join shape.
    "sstable_metadata_cassdir",
    # r08: the full Data.db CELL decode (SerializationHeader + big-format
    # row/cell codec + LZ4 chunk layer for the compressed half) feeding the
    # cfstats totals -- the heaviest real-file surface; and the planted-PNG
    # real-pixel perceptual-hash pipeline (encode -> decode -> aHash ->
    # banded join). Bars in BASELINE.md §r08.
    "cfstats_global_cassdir",
    "media_neardup_real",
    # r08: the full directory-mode compaction simulation, SPLIT into its
    # two stages since r09 (r08 VERDICT #7: the one-row timing integrated
    # box noise over the whole decode, so a merge-stage regression could
    # hide inside the spread): decode->eager-checkpoint, then
    # merge->purge->measure over the checkpointed frame. The old
    # purge_top_cassdir bar (~9s) ~= decode + merge bars.
    "purge_cassdir_decode",
    "purge_cassdir_merge",
    # r08 session 2: batched point reads through the bloom/summary/index-
    # window path (staged partition_lookup_cassdir; EXTRA_SECONDARY until
    # its r09 registration). Bar in BASELINE.md §r08-s2.
    "partition_lookup_batch",
    # r09 session 2: the full cell scan through the Python DataSource
    # packaging (spark.read.format) -- tracks the V2 planning + row
    # marshaling overhead against the mapInPandas path's
    # cfstats_global_cassdir trajectory (measured FASTER: one task per
    # sstable by construction, no listing-bin co-location).
    "ds_cells_scan",
    # r10: the two pushdown paths as recurring rows (r09 verdict #7 --
    # they had scale spot-checks but no trajectory, so a PLANNING
    # regression, e.g. in the bloom pre-prune threshold or the span
    # math, was invisible). ds_pointread_batch = a 256-key pushed IN
    # (EXTRA_SECONDARY: bounded K keeps the POINT-READ path timed at any
    # SF -- the registered ds_pointread_cassdir's full md5 cohort crosses
    # the pointread_max_keys crossover at sf0.1 and would time the scan
    # fallback instead); ds_rangeread_cassdir = the registered BETWEEN
    # through the summary-floored span planner. Bars in BASELINE.md §r10.
    "ds_pointread_batch",
    "ds_rangeread_cassdir",
    # r12: the write path's controlled encode kernel (see _compact_encode)
    # -- the one perf blind spot named by the r11 verdict. Bar in
    # BASELINE.md §r12.
    "compact_encode",
]

N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
SECONDARY_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_SECONDARY_RUNS", "3"))


def _ann_index_build(spark, sf_dir):
    """Cold IVF index build + compaction pass to a throwaway path.

    Exists because ann_ivf_topk's headline number is warm resident-index
    SERVING (disclosed in BASELINE.md); without this row a build-path
    regression would be invisible (r06 VERDICT #5). Each timed run pays the
    full assignment scan + partitioned write + selective compaction, then
    removes the directory so the next run is cold again. Returns a 1-row
    frame so the shared run_one timing/collect flow applies unchanged."""
    import shutil
    import tempfile

    from cassandra_sstable_tools_spark.llm.ann_index import (
        build_ivf_index,
        compact_ivf_index,
    )

    path = tempfile.mkdtemp(prefix="bench_ivf_") + "/index"
    try:
        build_ivf_index(spark, sf_dir, path)
        rewritten = compact_ivf_index(spark, path)
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return spark.range(1).selectExpr(f"{rewritten} as lists_rewritten")


_ENCODE_ROWS_CACHE: dict[str, list] = {}


def _compact_encode(spark, sf_dir):
    """The write path's controlled kernel row (r11 verdict #3): encode a
    FIXED in-memory cell-grain record set through write_sstable to a tmpfs
    target. Full end-to-end compact wall-clock proved unusable on this box
    (24-105s same-code spreads, disk/writeback order-sensitivity; SCALE.md
    r11) while the pure-CPU A/B resolved a +29%->+4% comparator effect --
    this row productizes that A/B so the next writer-grade change is
    measured, not argued. 150k cells over 3k partitions x 10 typed-long
    clusterings (signed, display-shuffled: the comparator sort/bounds/
    encode memo does real work) x 5 columns; record generation is memoized
    so timed runs pay ONLY encode + component derivation + tmpfs write."""
    import shutil
    import tempfile

    from cassandra_sstable_tools_spark.sources.pyds_writer import (
        write_sstable,
    )

    rows = _ENCODE_ROWS_CACHE.get("rows")
    if rows is None:
        rows = []
        for p in range(3000):
            pk = f"bench{p:06d}"
            for c in range(10):
                ck = str(((c * 7919 + p) % 1000) - 500)
                for col in range(5):
                    rows.append({
                        "partition_key": pk,
                        "clustering": ck,
                        "kind": "CELL",
                        "column_name": f"c{col}",
                        "cell_value": (p * 31 + c * 7 + col) % 100_000,
                        "value_bytes": None,
                        "value_len": None,
                        "value_marshal": None,
                        "clustering_marshal": None,
                        "writetime": 1_700_000_000_000_000 + p,
                        "ttl": 600 if col == 4 else None,
                        "is_tombstone": col == 3 and c % 5 == 0,
                        "is_counter": False,
                        # tombstones AND expiring (TTL) cells both carry a
                        # local deletion time (record_encodable's rule)
                        "local_deletion_time": (
                            1_700_000_000
                            if (col == 4 or (col == 3 and c % 5 == 0))
                            else None
                        ),
                        "range_start": None,
                        "range_end": None,
                        "cell_path": None,
                    })
        _ENCODE_ROWS_CACHE["rows"] = rows
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out = tempfile.mkdtemp(prefix="bench_enc_", dir=base)
    try:
        paths, _ = write_sstable(
            rows, out, "000042", clustering_type="long",
        )
        n = len(paths)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.range(1).selectExpr(f"{n} as components_written")


_PURGE_DECODED_CACHE: dict[str, object] = {}


def _purge_cassdir_decode(spark, sf_dir):
    """Stage 1 of the directory-purge split: the full Data.db cell decode
    feeding purge, paid at the eager localCheckpoint inside the call; the
    returned count is a checkpoint fetch, so the timed number IS the
    decode. Each run builds a FRESH frame (no reuse); the latest frame is
    parked for the merge row."""
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _decoded_purge_cells,
    )
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    frame = _decoded_purge_cells(spark, root)
    _PURGE_DECODED_CACHE[sf_dir] = frame
    return frame.groupBy().count()


def _purge_cassdir_merge(spark, sf_dir):
    """Stage 2: merge -> purge -> measure -> top-N over the already
    checkpointed decoded frame (the exact purge_top_cassdir tail), so a
    merge-stage plan regression is visible on its own."""
    from cassandra_sstable_tools_spark.operators.purge import purge_stats
    from cassandra_sstable_tools_spark.queries.purge import top_reclaimable
    from cassandra_sstable_tools_spark.sources.data_cells import (
        _pk_partitioned,
    )

    frame = _PURGE_DECODED_CACHE.get(sf_dir)
    if frame is None:
        _purge_cassdir_decode(spark, sf_dir).collect()
        frame = _PURGE_DECODED_CACHE[sf_dir]
    # same pk-keyed exchange purge_top_cassdir's tail applies -- this row
    # stays "the exact purge_top_cassdir tail" (see _pk_partitioned)
    return top_reclaimable(purge_stats(_pk_partitioned(frame)))


_DS_POINTREAD_KEYS: dict[str, list] = {}


def _ds_pointread_batch(spark, sf_dir):
    """A 256-key pushed IN through the pushdown DataSource: planning
    bloom-prunes driver-side, tasks run merged-window point reads. K is
    bounded so the row times the POINT-READ path at any SF (the full
    cohort would cross pointread_max_keys at sf0.1 and fall back to the
    scan). The key collect is memoized: the row measures the read path,
    not the parquet cohort scan."""
    from pyspark.sql import functions as F

    from cassandra_sstable_tools_spark.sources import tpch_adapter
    from cassandra_sstable_tools_spark.sources.lookup import _KEY_PREFIX
    from cassandra_sstable_tools_spark.sources.pyds import register
    from cassandra_sstable_tools_spark.sources.sstable_binary import (
        materialize_index_files,
    )

    root = materialize_index_files(spark, sf_dir)
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    keys = _DS_POINTREAD_KEYS.get(sf_dir)
    if keys is None:
        keys = sorted(
            r["partition_key"]
            for r in tpch_adapter.index_entries(spark, sf_dir)
            .select("partition_key")
            .where(F.md5("partition_key").startswith(_KEY_PREFIX))
            .distinct()
            .limit(256)
            .collect()
        )
        _DS_POINTREAD_KEYS[sf_dir] = keys
    df = (
        spark.read.format("cassandra-sstable")
        .option("pushdown", "true")
        .load(root)
    )
    return df.where(df.partition_key.isin(keys))


def _ds_cells_scan(spark, sf_dir):
    """The staged ds_cells_cassdir (sources/pyds.py) benched pre-
    registration: the same full cell decode as data_cells, planned and
    marshaled by the Python DataSource V2 API -- a packaging-overhead
    regression (planning, per-task pickle/arrow hop) shows here first."""
    from cassandra_sstable_tools_spark.sources.pyds import ds_cells_cassdir

    return ds_cells_cassdir(spark, sf_dir).groupBy().count()


def _partition_lookup_batch(spark, sf_dir):
    """The staged point-read path (sources/lookup.py), benched before its
    r09 registration: the md5-'0' key cohort (~1/16 of all partition
    keys) through bloom -> summary -> index-window -> data point reads
    over the planted tree. Tracks the batched-point-read cost the warm
    scan numbers (cfstats_global_cassdir) cannot see."""
    from cassandra_sstable_tools_spark.sources.lookup import (
        partition_lookup_cassdir,
    )

    return partition_lookup_cassdir(spark, sf_dir)


# Bench-only rows: operators whose cost is a SIDE EFFECT (index build) or
# whose query is staged for the next registration window -- not registry
# queries, but benched with bars so their perf trajectory is tracked like
# everything else.
EXTRA_SECONDARY = {
    "compact_encode": _compact_encode,
    "ann_index_build": _ann_index_build,
    "partition_lookup_batch": _partition_lookup_batch,
    "purge_cassdir_decode": _purge_cassdir_decode,
    "purge_cassdir_merge": _purge_cassdir_merge,
    "ds_cells_scan": _ds_cells_scan,
    "ds_pointread_batch": _ds_pointread_batch,
}


def main() -> None:
    from cassandra_sstable_tools_spark.queries import registry
    from cassandra_sstable_tools_spark.session import get_spark

    spark = get_spark(app_name="bench")
    qs = registry.queries()
    names = [n for n in HEADLINE if n in qs]
    # $SPARK_GRAFT_BENCH_ONLY=<name,...>: scope to a subset (headline or
    # secondary rows) -- the same-box worktree differential
    # (tools/bench_differential.py, BASELINE.md r11 triage) times only the
    # rows under suspicion on both checkouts
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    secondary_names = [
        n for n in SECONDARY if n in qs or n in EXTRA_SECONDARY
    ]
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in wanted
                   if n not in names and n not in secondary_names]
        if unknown:
            raise SystemExit(f"bench: unknown SPARK_GRAFT_BENCH_ONLY "
                             f"queries {unknown}")
        names = [n for n in names if n in wanted]
        secondary_names = [n for n in secondary_names if n in wanted]
    timings: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    # Global warm-up pass: the first queries in the list otherwise pay
    # JVM-wide costs (C2-compiling Spark's whole-stage-codegen pipeline,
    # building the shared derived-frame caches) inside their TIMED runs --
    # measured: `summary` first-in-process times ~3s vs 0.88s steady-state.
    # One full untimed pass moves every query to steady state; the per-query
    # warm-up below then only has to touch query-local state.
    for name in names:
        try:
            qs[name](spark, SF_DIR).collect()
        except Exception:  # noqa: BLE001 -- the timed loop reports it
            pass
    spread: dict[str, dict] = {}

    def run_one(name, n_runs):
        fn = qs.get(name) or EXTRA_SECONDARY[name]
        # Failure isolation: one broken query must not zero the whole
        # round's perf signal (r03: a sessionize warm-up crash left the
        # round with NO numbers). Record null + the error, keep going,
        # always emit the JSON line.
        try:
            fn(spark, SF_DIR).collect()  # warm-up (JIT, file listing, code cache)
            runs = []
            for _ in range(n_runs):
                t0 = time.monotonic()
                fn(spark, SF_DIR).collect()
                runs.append(time.monotonic() - t0)
            spread[name] = {
                "min": round(min(runs), 3),
                "median": round(statistics.median(runs), 3),
                "max": round(max(runs), 3),
                "n": n_runs,
            }
            return spread[name]["median"]
        except Exception as exc:  # noqa: BLE001 -- deliberate: isolate any failure
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)
            return None

    for name in names:
        timings[name] = run_one(name, N_RUNS)
    secondary = {
        name: run_one(name, SECONDARY_RUNS)
        for name in secondary_names
    }
    measured = [t for t in timings.values() if t is not None]
    total = round(sum(measured), 3)
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "secondary": secondary,
        "sf": SF_DIR,
    }
    if errors:
        out["errors"] = errors
    # Full record first (humans + triage tooling), compact contract line
    # LAST: the driver captures a bounded tail of stdout and parses the
    # final line -- r12's single full line outgrew a 2000-byte window and
    # was cut mid-line, losing the round's whole PERF table. The compact
    # line drops only the per-row spread; medians are identical.
    print(json.dumps(out))
    compact = {k: v for k, v in out.items() if k != "spread"}
    line = json.dumps(compact)
    if len(line) > 1900:  # belt-and-braces: never outgrow the tail again
        compact.pop("secondary", None)
        if errors:
            compact["errors"] = sorted(errors)  # names only
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
