"""Operator A5 -- histogram snapshot statistics.

The reference keeps a 1028-sample reservoir (Vitter Algorithm R,
Histogram.java:8-93) and interpolates percentiles over the sample
(Snapshot.java:85-108). That output is *randomized*; our engine computes
exact percentiles instead (documented accuracy improvement, SURVEY.md §5.3):

- exact mode (correctness gate): built-in ``percentile`` -- linear
  interpolation at rank p*(n-1), identical to DuckDB's ``quantile_cont``;
- scale mode (100 TB): ``percentile_approx`` (bounded-memory, deterministic
  t-digest-like sketch) -- better than the reference's randomized reservoir.

Results are floored to whole bytes: the reports consume them through
``humanReadableByteCount(long)`` anyway (Util.java:42-52).
"""

from __future__ import annotations

import bisect
import itertools
import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from cassandra_sstable_tools_spark.constants import REPORT_PERCENTILES


def percentile_cols(
    col: str, percentiles: list[float] | None = None, approx: bool = False
) -> list[Column]:
    """Floored percentile aggregate expressions named p50, p75, ... p999.

    All outputs are element_at projections of ONE array-percentage
    ``percentile(col, array(...))`` aggregate: Catalyst deduplicates
    semantically-equal aggregate functions, so the plan buffers the group's
    values ONCE instead of once per requested percentile (measured: 6
    separate exact-percentile aggregates made pstats_summary GC-jitter
    between 0.5s and 5.5s at sf0.1; the single-buffer form is stable)."""
    ps = percentiles if percentiles is not None else REPORT_PERCENTILES
    pcts = F.array(*[F.lit(p) for p in ps])
    agg = (
        F.percentile_approx(col, pcts, F.lit(10000))
        if approx
        else F.percentile(col, pcts)
    )
    return [
        F.floor(F.element_at(agg, i + 1)).alias(percentile_name(p))
        for i, p in enumerate(ps)
    ]


def percentile_name(p: float) -> str:
    """0.5 -> p50, 0.999 -> p999."""
    return "p" + f"{p * 100:g}".replace(".", "")


def exact_percentiles(
    counts: dict[int, int], percentiles: list[float] | None = None
) -> list[int | None]:
    """The exact-mode ``percentile_cols`` over a value -> frequency map,
    evaluated in Python the way Spark's ``percentile`` evaluates it: the
    value at position ``(n-1)*p`` of the sorted values, linearly
    interpolated between the values at its floor and ceil positions (no
    interpolation when those values are equal), then floored."""
    ps = percentiles if percentiles is not None else REPORT_PERCENTILES
    if not counts:
        return [None] * len(ps)
    values = sorted(counts)
    ends = list(itertools.accumulate(counts[v] for v in values))
    last = ends[-1] - 1
    out = []
    for p in ps:
        pos = last * p
        lo, hi = math.floor(pos), math.ceil(pos)
        lo_v = values[bisect.bisect_left(ends, lo + 1)]
        hi_v = values[bisect.bisect_left(ends, hi + 1)]
        if lo == hi or lo_v == hi_v:
            out.append(math.floor(float(lo_v)))
        else:
            out.append(math.floor((hi - pos) * lo_v + (pos - lo) * hi_v))
    return out


def percentile_sql(col: str, percentiles: list[float] | None = None) -> str:
    """DuckDB mirror of ``percentile_cols`` (exact mode)."""
    ps = percentiles if percentiles is not None else REPORT_PERCENTILES
    parts = [
        f"CAST(floor(quantile_cont({col}, {p})) AS BIGINT) AS "
        + percentile_name(p)
        for p in ps
    ]
    return ",\n       ".join(parts)
