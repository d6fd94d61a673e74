"""Cell-keyed bbox candidate join — the covering index every rect×rect
spatial join in the repo rides.

The former small-dim special cases (roads×zones, raster×zones, rects×zones)
used ``crossJoin(broadcast(dim))`` + overlap filter, correct but O(n·m)
in evaluated predicates and a BroadcastNestedLoopJoin shape that dies when
the "dim" side grows planetary. This helper replaces them with the same
machinery the point joins already use (knn/spatial_join kring equi-join;
`polygon_overlay._bbox_cells` for local units): every bbox explodes into
the fixed-size grid cells it spans and candidates meet in a hash EQUI-join
on the cell key.

Duplicate suppression is the standard reference-point trick — a pair
sharing k cells would join k times, so a joined row survives only in the
single cell that contains the overlap region's lower-left corner
``(max(x0s), max(y0s))``. No ``distinct()``, no extra shuffle.

Cell size is a power of two so the floor division is an EXACT double op;
bboxes spanning many cells fan out linearly (pick ``cell_e6`` near the
typical bbox size; the default suits degree-scale zones and roads).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CELL_E6 = 1 << 25  # ~33.5e6 µ° — degree-scale zones/roads span <= 2x2 cells


def _explode_cells(df: DataFrame, x0: str, y0: str, x1: str, y1: str,
                   cell: int) -> DataFrame:
    c = F.lit(float(cell))
    return (df.withColumn("_cx", F.explode(F.sequence(
        F.floor(F.col(x0) / c), F.floor(F.col(x1) / c))))
        .withColumn("_cy", F.explode(F.sequence(
            F.floor(F.col(y0) / c), F.floor(F.col(y1) / c)))))


def bbox_cell_join(a: DataFrame, a_bounds: tuple[str, str, str, str],
                   b: DataFrame, b_bounds: tuple[str, str, str, str],
                   broadcast_b: bool = False) -> DataFrame:
    """All (a row, b row) pairs whose closed bboxes intersect or touch —
    a superset-free candidate set, each pair exactly once. ``a_bounds`` /
    ``b_bounds`` name (x0, y0, x1, y1) integer columns with x0<=x1, y0<=y1.
    Callers apply their own exact refine on the joined columns."""
    ax0, ay0, ax1, ay1 = a_bounds
    bx0, by0, bx1, by1 = b_bounds
    ac = _explode_cells(a, ax0, ay0, ax1, ay1, CELL_E6)
    bc = _explode_cells(b, bx0, by0, bx1, by1, CELL_E6)
    if broadcast_b:
        bc = F.broadcast(bc)
    c = F.lit(float(CELL_E6))
    mx, my = F.greatest(F.col(ax0), F.col(bx0)), F.greatest(F.col(ay0), F.col(by0))
    return (ac.join(bc, ["_cx", "_cy"])
            .where((F.col(ax0) <= F.col(bx1)) & (F.col(bx0) <= F.col(ax1))
                   & (F.col(ay0) <= F.col(by1)) & (F.col(by0) <= F.col(ay1))
                   & (F.floor(mx / c) == F.col("_cx"))
                   & (F.floor(my / c) == F.col("_cy")))
            .drop("_cx", "_cy"))
