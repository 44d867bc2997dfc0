"""Randomized differential test for operator A7 (compaction simulation).

An INDEPENDENT plain-Python model of the documented merge->purge semantics
(operators/purge.py docstring; reference PurgeStatisticBackend.java:70-257)
is evaluated over hundreds of small random partitions and compared exactly
against the Spark implementation. All cases ride in ONE purge_stats call
(each case is its own partition_key), so the whole sweep costs a single
Spark job. Writetimes are globally unique per case -- LWW ties are
undefined in both implementations, so the generator never produces them.
"""

from __future__ import annotations

import random

from cassandra_sstable_tools_spark.operators.purge import purge_stats
from tests.test_purge_semantics import COLS

GC = 1000
_CELLISH = ("CELL", "STATIC_CELL", "ROW_MARKER")


def _dedup_key(r):
    kind = r["kind"]
    if kind == "PARTITION_DELETE":
        return ("", "<pd>")
    if kind == "RANGE_TOMBSTONE_MARKER":
        return ("", f"<rtm>{r['range_start']}|{r['range_end']}")
    if kind == "ROW_DELETE":
        return (r["clustering"], "<rd>")
    if kind == "COMPLEX_DELETE":
        return (r["clustering"], "<cd>" + (r["cell_name"] or ""))
    return (r["clustering"], r["cell_name"] or "<marker>")


def _model(rows):
    """Reference model: per-partition (pre_size, merged_size, reclaimable)."""
    pre = sum(r["cell_size"] for r in rows)
    tables = len({r["sstable_id"] for r in rows})

    # LWW reconciliation per scope key
    winners = {}
    for r in rows:
        k = _dedup_key(r)
        if k not in winners or r["writetime"] > winners[k]["writetime"]:
            winners[k] = r

    pd_wts = [r["writetime"] for r in rows if r["kind"] == "PARTITION_DELETE"]
    pd_wt = max(pd_wts) if pd_wts else None
    rd_wt = {}
    for r in rows:
        if r["kind"] == "ROW_DELETE":
            c = r["clustering"]
            rd_wt[c] = max(rd_wt.get(c, -1), r["writetime"])
    rtms = [r for r in rows if r["kind"] == "RANGE_TOMBSTONE_MARKER"]
    cd_wt = {}
    for r in rows:
        if r["kind"] == "COMPLEX_DELETE":
            k = (r["clustering"], r["cell_name"])
            cd_wt[k] = max(cd_wt.get(k, -1), r["writetime"])

    merged = 0
    for r in winners.values():
        kind, wt, ldt = r["kind"], r["writetime"], r["local_deletion_time"]
        if kind in _CELLISH:
            if pd_wt is not None and wt <= pd_wt:
                continue
            if r["clustering"] in rd_wt and wt <= rd_wt[r["clustering"]]:
                continue
            base = (r["cell_name"] or "").split("[")[0]
            k = (r["clustering"], base)
            if k in cd_wt and wt <= cd_wt[k]:
                continue
            if any(
                t["range_start"] <= r["clustering"] <= t["range_end"]
                and wt < t["writetime"]
                for t in rtms
            ):
                continue
            acts_as_tombstone = r["is_tombstone"] or (
                r["is_expiring"] and ldt is not None and ldt < GC
            )
            if acts_as_tombstone and ldt is not None and ldt < GC:
                continue
            merged += r["cell_size"]
        elif kind == "PARTITION_DELETE":
            if ldt >= GC:
                merged += r["cell_size"]
        elif kind == "COMPLEX_DELETE":
            if pd_wt is not None and wt <= pd_wt:
                continue
            if r["clustering"] in rd_wt and wt <= rd_wt[r["clustering"]]:
                continue
            if ldt >= GC:
                merged += r["cell_size"]
        else:  # ROW_DELETE / RANGE_TOMBSTONE_MARKER
            if pd_wt is not None and wt <= pd_wt:
                continue
            if ldt >= GC:
                merged += r["cell_size"]

    # RTM boundary splitting (declared-size model, operators/purge.py): a
    # purged marker's bound meeting an opposite-type bound of a kept marker
    # retains floor(size / 2) per distinct matched bound position.
    rtm_live = [
        r for r in winners.values()
        if r["kind"] == "RANGE_TOMBSTONE_MARKER"
        and (pd_wt is None or r["writetime"] > pd_wt)
    ]
    kept_bounds = set()
    for r in rtm_live:
        if r["local_deletion_time"] >= GC:
            kept_bounds.add((r["range_start"], "open"))
            kept_bounds.add((r["range_end"], "close"))
    for r in rtm_live:
        if r["local_deletion_time"] < GC:
            matched = {
                pos
                for pos, typ in [(r["range_start"], "open"),
                                 (r["range_end"], "close")]
                if (pos, "close" if typ == "open" else "open") in kept_bounds
            }
            merged += len(matched) * (r["cell_size"] // 2)
    return {"pre_size": pre, "merged_size": merged,
            "reclaimable": pre - merged, "tables": tables}


def _random_case(rng: random.Random, pk: str):
    n = rng.randint(3, 9)
    wts = rng.sample(range(1, 1000), n)
    rows = []
    for i in range(n):
        kind = rng.choices(
            ["CELL", "STATIC_CELL", "ROW_MARKER", "ROW_DELETE",
             "PARTITION_DELETE", "RANGE_TOMBSTONE_MARKER",
             "COMPLEX_DELETE"],
            weights=[5, 1, 1, 2, 1, 2, 2],
        )[0]
        clustering = rng.choice("abcd")
        size = rng.randint(1, 100)
        sstable = f"s{rng.randint(1, 3)}"
        ldt = rng.choice([GC - 400, GC - 1, GC, GC + 1, GC + 400])
        if kind in ("CELL", "STATIC_CELL"):
            tomb = rng.random() < 0.3
            expiring = (not tomb) and rng.random() < 0.3
            # mix plain-column and path-folded collection cells so the
            # complex-deletion shadow rule genuinely fires
            name = rng.choice(
                [f"c{rng.randint(0, 1)}", f"m0[p{rng.randint(0, 1)}]"]
            )
            rows.append(("ks", "t", sstable, pk, clustering, kind,
                         name, size, wts[i], None, tomb,
                         expiring, False,
                         ldt if (tomb or expiring) else None, None, None, 0))
        elif kind == "COMPLEX_DELETE":
            rows.append(("ks", "t", sstable, pk, clustering, kind,
                         "m0", size, wts[i], None, True, False, False,
                         ldt, None, None, 0))
        elif kind == "RANGE_TOMBSTONE_MARKER":
            lo, hi = sorted(rng.sample("abcd", 2))
            rows.append(("ks", "t", sstable, pk, "", kind, None, size, wts[i],
                         None, False, False, False, ldt, lo, hi, 0))
        else:  # ROW_MARKER / ROW_DELETE / PARTITION_DELETE
            cl = "" if kind == "PARTITION_DELETE" else clustering
            tomb = False
            rows.append(("ks", "t", sstable, pk, cl, kind, None, size, wts[i],
                         None, tomb, False, False,
                         ldt if kind != "ROW_MARKER" else None, None, None, 0))
    return rows


def test_purge_differential_random_cases(spark):
    rng = random.Random(20260813)
    cases = {f"case{i:03d}": _random_case(rng, f"case{i:03d}") for i in range(250)}
    flat = [row for rows in cases.values() for row in rows]
    df = spark.createDataFrame(flat, schema=COLS)
    got = {
        r["partition_key"]: r.asDict()
        for r in purge_stats(df, gc_before=GC).collect()
    }
    assert set(got) == set(cases)
    mismatches = []
    for pk, rows in cases.items():
        want = _model([dict(zip(
            ["keyspace", "table_name", "sstable_id", "partition_key",
             "clustering", "kind", "cell_name", "cell_size", "writetime",
             "ttl", "is_tombstone", "is_expiring", "is_counter",
             "local_deletion_time", "range_start", "range_end",
             "gc_grace_seconds"], r)) for r in rows])
        have = {k: got[pk][k] for k in want}
        if have != want:
            mismatches.append((pk, want, have))
    assert not mismatches, f"{len(mismatches)} divergent cases; first: {mismatches[0]}"


def test_purge_sql_mirror_matches_model():
    """The DuckDB purge CTE chain (purge_stats_sql -- what the cassdir
    purge oracles run over the decoded frame) must agree with the same
    independent model on the same randomized cases, complex deletions
    included (the certified fixture plants complex CELLS only, so without
    this sweep the SQL cd branch would be test-dead)."""
    import duckdb

    from cassandra_sstable_tools_spark.operators.purge import purge_stats_sql

    rng = random.Random(20260815)
    cases = {f"sql{i:03d}": _random_case(rng, f"sql{i:03d}")
             for i in range(150)}
    flat = [row for rows in cases.values() for row in rows]
    names = ["keyspace", "table_name", "sstable_id", "partition_key",
             "clustering", "kind", "cell_name", "cell_size", "writetime",
             "ttl", "is_tombstone", "is_expiring", "is_counter",
             "local_deletion_time", "range_start", "range_end",
             "gc_grace_seconds"]
    import pandas as pd

    pdf = pd.DataFrame(flat, columns=names)
    con = duckdb.connect()
    con.register("cells", pdf)
    sql = "WITH " + purge_stats_sql(gc_before=GC).lstrip().lstrip(",") + \
        "\nSELECT * FROM purge_per_partition"
    got = {
        r["partition_key"]: r
        for r in con.execute(sql).fetchdf().to_dict("records")
    }
    assert set(got) == set(cases)
    mismatches = []
    for pk, rows in cases.items():
        want = _model([dict(zip(names, r)) for r in rows])
        have = {k: int(got[pk][k]) for k in want}
        if have != want:
            mismatches.append((pk, want, have))
    assert not mismatches, (
        f"{len(mismatches)} divergent cases; first: {mismatches[0]}"
    )


_NAMES = ["keyspace", "table_name", "sstable_id", "partition_key",
          "clustering", "kind", "cell_name", "cell_size", "writetime", "ttl",
          "is_tombstone", "is_expiring", "is_counter", "local_deletion_time",
          "range_start", "range_end", "gc_grace_seconds"]


def _python_purge(rows) -> dict:
    """``operators.purge.purge_partition`` over COLS-shaped rows of one
    partition, as a purge_stats-shaped dict."""
    from cassandra_sstable_tools_spark.operators.purge import (
        PURGE_FIELDS,
        purge_partition,
    )

    recs = [dict(zip(_NAMES, r)) for r in rows]
    tables, pre, merged, reclaimable = purge_partition(
        [tuple(r[f] for f in PURGE_FIELDS) for r in recs], gc_before=GC
    )
    return {"pre_size": pre, "merged_size": merged,
            "reclaimable": reclaimable, "tables": tables}


def test_python_purge_matches_model_and_spark(spark):
    """The in-task Python purge (the directory CLI's per-partition
    function) on the same random cases as the Spark sweep above: equal to
    the independent model AND to ``purge_stats``, case for case."""
    rng = random.Random(20260813)
    cases = {f"case{i:03d}": _random_case(rng, f"case{i:03d}") for i in range(250)}
    flat = [row for rows in cases.values() for row in rows]
    got = {
        r["partition_key"]: r.asDict()
        for r in purge_stats(
            spark.createDataFrame(flat, schema=COLS), gc_before=GC
        ).collect()
    }
    mismatches = []
    for pk, rows in cases.items():
        have = _python_purge(rows)
        want = _model([dict(zip(_NAMES, r)) for r in rows])
        spark_row = {k: got[pk][k] for k in want}
        if not have == want == spark_row:
            mismatches.append((pk, have, want, spark_row))
    assert not mismatches, (
        f"{len(mismatches)} divergent cases; first: {mismatches[0]}"
    )


def test_python_purge_null_sizes_match_spark(spark):
    """Header-resident partition deletes carry a NULL size: ``pre_size``,
    ``merged_size`` and ``reclaimable`` follow Spark's NULL-skipping sums
    (all-NULL partitions stay NULL). The model has no NULL sizes, so this
    sweep compares with ``purge_stats`` alone."""
    rng = random.Random(20261019)
    cases = {}
    for i in range(200):
        pk = f"null{i:03d}"
        rows = _random_case(rng, pk) if rng.random() < 0.6 else []
        for _ in range(rng.randint(1, 2)):
            ldt = rng.choice([GC - 1, GC, GC + 1])
            rows.append(("ks", "t", f"s{rng.randint(1, 3)}", pk, "",
                         "PARTITION_DELETE", None, None,
                         rng.randint(1000, 2000), None, False, False, False,
                         ldt, None, None, 0))
        cases[pk] = rows
    flat = [row for rows in cases.values() for row in rows]
    got = {
        r["partition_key"]: r.asDict()
        for r in purge_stats(
            spark.createDataFrame(flat, schema=COLS), gc_before=GC
        ).collect()
    }
    assert any(r["pre_size"] is None for r in got.values())
    mismatches = []
    for pk, rows in cases.items():
        have = _python_purge(rows)
        want = {k: got[pk][k] for k in have}
        if have != want:
            mismatches.append((pk, have, want))
    assert not mismatches, (
        f"{len(mismatches)} divergent cases; first: {mismatches[0]}"
    )
