"""ASCII table report sink (operator S7).

Reference: TableBuilder.java:15-81 -- every query renders as a fixed-width
``+---+`` bordered table on stdout. Column widths are the max cell width per
column; cells are left-aligned and space-padded.

Alignment quirk (TableBuilder.java:69-75): the FIRST column is left-aligned,
all other columns are right-aligned. Rows shorter than the header render
short lines (no padding to full width). Output ends with a newline.

This is a pure driver-side formatter over an already-collected, report-sized
result (the reference collects the same way: bounded heaps/scalars). Never
call it on an uncollected big frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sort_key(v):
    """Spark's ascending order for one value: NULLs first, NaN above
    every number; strings compare by code point, which is the UTF-8 byte
    order Spark uses."""
    if v is None:
        return (0,)
    if isinstance(v, float) and v != v:
        return (2,)
    return (1, v)


class TableBuilder:
    """Mirror of the reference's TableBuilder (setHeader/addRow/toString)."""

    def __init__(self) -> None:
        self._header: list[str] | None = None
        self._rows: list[list[str]] = []

    def set_header(self, *cols: str) -> "TableBuilder":
        self._header = [str(c) for c in cols]
        return self

    def add_row(self, *cells: object) -> "TableBuilder":
        self._rows.append(["" if c is None else str(c) for c in cells])
        return self

    def __str__(self) -> str:
        ncols = len(self._header) if self._header else 0
        for row in self._rows:
            ncols = max(ncols, len(row))
        widths = [0] * ncols
        if self._header is not None:
            for i, h in enumerate(self._header):
                widths[i] = max(widths[i], len(h))
        for row in self._rows:
            for i, cell in enumerate(row):
                widths[i] = max(widths[i], len(cell))

        sep = "+" + "".join("-" * (w + 2) + "+" for w in widths) + "\n"

        buf = sep
        if self._header is not None:
            buf += "|"
            for i, h in enumerate(self._header):
                buf += " " + h.ljust(widths[i]) + " |"
            buf += "\n" + sep
        for row in self._rows:
            buf += "|"
            for i, cell in enumerate(row):
                # first column left-aligned, the rest right-aligned
                padded = cell.ljust(widths[i]) if i == 0 else cell.rjust(widths[i])
                buf += " " + padded + " |"
            buf += "\n"
        buf += sep
        return buf


def render(df: DataFrame, limit: int = 1000) -> str:
    """Collect a (small!) result DataFrame and render it as an ASCII table."""
    rows = df.limit(limit).collect()
    tb = TableBuilder()
    tb.set_header(*df.columns)
    for r in rows:
        tb.add_row(*[r[c] for c in df.columns])
    return str(tb)
