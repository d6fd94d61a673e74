"""SMBR-azimuth building direction distribution — the real minimum-bounding-
rectangle weighting (replacing the octant point-offset simplification in
:mod:`distribution`).

Reference: `buildingDirectionDistribution` (`/root/reference/geoindicators/
.../GenericIndicators.groovy:291-411`): per building the minimum rectangle
(`ST_MINIMUMRECTANGLE`, `:318-321`), the lengths and azimuths of its two
perpendicular sides (`:325-332`), side lengths summed into fixed angle bins
over [0, 180) (`:343-349`), then `distributionCharacterization` per upper
zone (Perkins equality / uniqueness, `:356-358` — reused from
:mod:`distribution`).

Graft: "buildings" are page-proximity components (the createBlocks output);
the SMBR of a component's points is found with the hull-edge theorem — the
minimum-area enclosing rectangle has a side collinear with a hull edge, and
every hull edge is a point pair, so scanning ALL point-pair directions (a
superset) finds the exact optimum with no hull computation. That makes the
whole operator a pair-explode + aggregate, expressible identically in Spark
and DuckDB:

* per candidate direction (dx, dy): projection P = dx·x + dy·y and cross
  C = dx·y − dy·x over the component's points — exact int64; the enclosing
  rectangle area is (ΔP·ΔC)/len² evaluated in ONE fixed double expression
  (IEEE mul/div are exactly rounded → bit-identical across engines);
* candidate directions are gcd-REDUCED to primitive vectors and deduped,
  so parallel pairs collapse to one direction class; winner = lowest
  (area, dx, dy) — a deterministic, scale-invariant window top-1 that is
  stable under hull reduction (the oracle scans all pairs, the engine only
  hull pairs, but both see every hull-EDGE direction class and rank the
  same way);
* side lengths FLOOR(ΔP/√len²), FLOOR(ΔC/√len²) (sqrt is correctly rounded
  everywhere, FLOOR avoids engine-specific cast/round rules);
* angle bins are 30° sectors of [0,180): tan²(30°) = 1/3 and tan²(60°) = 3
  are RATIONAL, so bin membership reduces to exact integer comparisons
  (3·dy² vs dx²); the irrational boundaries are unreachable for integer
  vectors, so no boundary ambiguity exists.

Scale: each component is solved in ONE Arrow-batched group pass
(:func:`smbr_per_component`). Small components (≤ ``PAIR_SCAN_MAX`` distinct
points) run the full gcd-reduced pair-direction scan — the oracle's exact
program, including ties. Big components are reduced to their EXACT integer
convex hull (O(n log n) sort + monotone chain) and solved with ROTATING
CALIPERS over hull-EDGE directions only — O(h) pointer advances after the
hull, so the per-component cost is O(n log n) total instead of the previous
O(h³) hull-pair scan (adversarial points-on-a-circle inputs, h = n, are now
linear after the sort). The DuckDB oracle keeps the independent full O(n³)
pair scan.

Generic-position note (big components only): the calipers path ranks only
hull-EDGE direction classes, the oracle ranks ALL pair direction classes.
The minimum-area direction is always a hull-edge class (hull-edge theorem),
so the two can diverge ONLY if a non-edge class ties the minimal area
bit-for-bit in double AND sorts lower on (dx, dy) — an exact symmetric
configuration. The driver fixture is verified free of such ties by
tests/test_smbr.py::test_calipers_matches_bruteforce; components at or below
``PAIR_SCAN_MAX`` replicate the oracle ranking exactly, ties included.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BINS = 6  # 30° sectors of [0, 180)
HULL_MIN_N = 64  # legacy alias of PAIR_SCAN_MAX (kept for callers/tests)
# at or below this many DISTINCT points the full pair-direction scan (the
# oracle's exact program, ties included) runs vectorized; above it, exact
# hull + rotating calipers
PAIR_SCAN_MAX = 64


def _int_hull(pts: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Andrew's monotone chain on EXACT Python ints (float cross products
    overflow 2^53 at µ° magnitudes — a misclassified near-collinear point
    could drop a true hull vertex and flip the SMBR winner vs the oracle).
    ``pts`` must be sorted; collinear boundary points are dropped (their
    pair directions are parallel to the surviving edge, so the direction
    superset is unchanged)."""
    if len(pts) <= 2:
        return pts

    def half(seq):
        h: list[tuple[int, int]] = []
        for p in seq:
            while len(h) >= 2 and ((h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                                   - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(pts[::-1])
    return lower[:-1] + upper[:-1]


def _norm_dir(dx: Column, dy: Column) -> tuple[Column, Column]:
    """Normalize a direction into the upper half-plane: dy > 0, or
    dy == 0 and dx > 0."""
    flip = (dy < 0) | ((dy == 0) & (dx < 0))
    return (F.when(flip, -dx).otherwise(dx), F.when(flip, -dy).otherwise(dy))


def sector_bin_col(dx: Column, dy: Column) -> Column:
    """30° sector of the normalized direction's angle in [0,180) — exact
    integer comparisons (see module docstring)."""
    dx2, dy2 = dx * dx, dy * dy
    return (F.when(dy == 0, F.lit(0))
            .when(dx == 0, F.lit(3))
            .when((dx > 0) & (dx2 > 3 * dy2), F.lit(0))         # [0,30)
            .when((dx > 0) & (dy2 < 3 * dx2), F.lit(1))         # [30,60)
            .when(dx > 0, F.lit(2))                             # [60,90)
            .when(3 * dy2 < dx2, F.lit(5))                      # (150,180)
            .when(dy2 <= 3 * dx2, F.lit(4))                     # [120,150]
            .otherwise(F.lit(3))                                # (90,120)
            .cast("long"))


def sector_bin_sql(dx: str, dy: str) -> str:
    return (f"CAST(CASE WHEN {dy} = 0 THEN 0 WHEN {dx} = 0 THEN 3 "
            f"WHEN {dx} > 0 AND {dx}*{dx} > 3*{dy}*{dy} THEN 0 "
            f"WHEN {dx} > 0 AND {dy}*{dy} < 3*{dx}*{dx} THEN 1 "
            f"WHEN {dx} > 0 THEN 2 "
            f"WHEN 3*{dy}*{dy} < {dx}*{dx} THEN 5 "
            f"WHEN {dy}*{dy} <= 3*{dx}*{dx} THEN 4 "
            f"ELSE 3 END AS BIGINT)")


def _brute_winner(xs: np.ndarray, ys: np.ndarray) -> tuple:
    """Winning (dx, dy, len2, d_p, d_c) over ALL gcd-reduced pair-direction
    classes — the oracle's exact program (same int64 arithmetic, same IEEE
    area expression, same (area, dx, dy) ranking, ties included). Inputs are
    the DISTINCT coordinates (duplicates add no direction class and never
    move a max/min extent)."""
    n = len(xs)
    i, j = np.triu_indices(n, k=1)
    dx, dy = xs[j] - xs[i], ys[j] - ys[i]
    flip = (dy < 0) | ((dy == 0) & (dx < 0))
    dx, dy = np.where(flip, -dx, dx), np.where(flip, -dy, dy)
    g = np.gcd(np.abs(dx), np.abs(dy))
    dirs = np.unique(np.stack([dx // g, dy // g], axis=1), axis=0)
    # extents: projection P and cross C of every point under every class
    P = dirs[:, 0:1] * xs[None, :] + dirs[:, 1:2] * ys[None, :]
    C = dirs[:, 0:1] * ys[None, :] - dirs[:, 1:2] * xs[None, :]
    d_p = P.max(axis=1) - P.min(axis=1)
    d_c = C.max(axis=1) - C.min(axis=1)
    len2 = dirs[:, 0] ** 2 + dirs[:, 1] ** 2
    area = (d_p.astype(np.float64) * d_c.astype(np.float64)
            / len2.astype(np.float64))
    k = int(np.lexsort((dirs[:, 1], dirs[:, 0], area))[0])
    return (int(dirs[k, 0]), int(dirs[k, 1]), int(len2[k]),
            int(d_p[k]), int(d_c[k]))


def _calipers_winner(pts: list[tuple[int, int]]) -> tuple:
    """Winning (dx, dy, len2, d_p, d_c) over hull-EDGE direction classes via
    rotating calipers — O(h) pointer advances on the exact integer hull.
    ``pts`` must be sorted distinct (x, y) tuples. Valid by the hull-edge
    theorem; see the module docstring's generic-position note for the only
    divergence the edge-only restriction can introduce vs the oracle."""
    from math import gcd

    hull = _int_hull(pts)
    h = len(hull)
    if h == 2:  # all points collinear: single direction class, zero width
        (x0, y0), (x1, y1) = hull
        dx, dy = x1 - x0, y1 - y0
        if dy < 0 or (dy == 0 and dx < 0):
            dx, dy = -dx, -dy
        g = gcd(abs(dx), abs(dy))
        dx, dy = dx // g, dy // g
        d_p = max(dx * x + dy * y for x, y in pts) \
            - min(dx * x + dy * y for x, y in pts)
        return (dx, dy, dx * dx + dy * dy, d_p, 0)
    hx = [p[0] for p in hull]
    hy = [p[1] for p in hull]

    def _adv(idx: int, f) -> int:
        # advance while STRICTLY better: plateaus (edge-parallel supports)
        # keep the same extreme VALUE, so not crossing them loses nothing
        for _ in range(h):
            nxt = (idx + 1) % h
            if f(nxt) > f(idx):
                idx = nxt
            else:
                break
        return idx

    best = None
    seen: set[tuple[int, int]] = set()
    jj = kk = ll = 0
    for i in range(h):
        ex, ey = hx[(i + 1) % h] - hx[i], hy[(i + 1) % h] - hy[i]
        proj = lambda t: ex * hx[t] + ey * hy[t]
        cross = lambda t: ex * hy[t] - ey * hx[t]
        if i == 0:  # initialize the three calipers by full scan
            jj = max(range(h), key=proj)
            ll = min(range(h), key=proj)
            kk = max(range(h), key=cross)
        else:  # monotone advances (raw edge vector — argmax is scale-inv)
            jj = _adv(jj, proj)
            kk = _adv(kk, cross)
            ll = _adv(ll, lambda t: -proj(t))
        # normalize + gcd-reduce AFTER tracking: extents are evaluated with
        # the PRIMITIVE vector (exact ints) so w/bin math downstream is
        # bit-identical to the oracle's primitive-vector expressions
        dx, dy = ex, ey
        if dy < 0 or (dy == 0 and dx < 0):
            dx, dy = -dx, -dy
        g = gcd(abs(dx), abs(dy))
        dx, dy = dx // g, dy // g
        if (dx, dy) in seen:  # opposite hull edge, identical class/extents
            continue
        seen.add((dx, dy))
        d_p = abs((dx * hx[jj] + dy * hy[jj]) - (dx * hx[ll] + dy * hy[ll]))
        d_c = abs((dx * hy[kk] - dy * hx[kk]) - (dx * hy[i] - dy * hx[i]))
        len2 = dx * dx + dy * dy
        cand = (float(d_p) * float(d_c) / float(len2), dx, dy,
                len2, d_p, d_c)
        if best is None or cand[:3] < best[:3]:
            best = cand
    return best[1:]


def smbr_per_component(comp_pts: DataFrame) -> DataFrame:
    """Exact minimum-area enclosing rectangle per component.

    ``comp_pts``: (component, pid, x, y) int64 µ°; components need >= 2
    distinct points (singletons yield no pairs and are dropped, like
    degenerate point buildings). Returns one row per component:
    (component, dx, dy, len2, d_p, d_c) — winning direction (normalized),
    its squared length, and the projection/cross extents.

    One Arrow-batched group pass: ≤ ``PAIR_SCAN_MAX`` distinct points →
    vectorized full pair-direction scan (the oracle's program, bit-for-bit);
    above it → exact integer hull + rotating calipers (O(n log n) per
    component, the 100-TB shape — no pair self-join, no O(h³) extent join,
    one shuffle on the component key).
    """
    schema = ("component long, dx long, dy long, len2 long, "
              "d_p long, d_c long")

    def run(groups: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for gdf in groups:
            by_xy = gdf.drop_duplicates(["x", "y"])
            xs = by_xy["x"].to_numpy(np.int64)
            ys = by_xy["y"].to_numpy(np.int64)
            if len(xs) < 2:
                continue  # singleton: no direction classes
            if len(xs) <= PAIR_SCAN_MAX:
                dx, dy, len2, d_p, d_c = _brute_winner(xs, ys)
            else:
                pts = sorted(zip((int(v) for v in xs),
                                 (int(v) for v in ys)))
                dx, dy, len2, d_p, d_c = _calipers_winner(pts)
            yield pd.DataFrame([{
                "component": int(gdf["component"].iloc[0]),
                "dx": dx, "dy": dy, "len2": len2, "d_p": d_p, "d_c": d_c}])

    return comp_pts.groupBy("component").applyInPandas(run, schema)


def smbr_direction_weights(smbr: DataFrame) -> DataFrame:
    """Two weighted direction rows per component — the side ALONG the
    winning direction with extent ΔP, and the PERPENDICULAR side with ΔC
    (`GenericIndicators.groovy:325-332` LEN_L/LEN_H ⇔ ANG_L/ANG_H):
    (component, bin, w) with w = FLOOR(extent / √len²) bigint µ°."""
    ln = F.sqrt(F.col("len2").cast("double"))
    # perpendicular of (dx, dy) is (-dy, dx); renormalize to upper half
    pdx, pdy = _norm_dir(-F.col("dy"), F.col("dx"))
    # ONE projection emitting both rows via array+explode: a union of two
    # selects would evaluate the upstream (the Arrow group pass) twice
    rows = F.array(
        F.struct(
            sector_bin_col(F.col("dx"), F.col("dy")).alias("bin"),
            F.floor(F.col("d_p").cast("double") / ln).cast("long").alias("w")),
        F.struct(
            sector_bin_col(pdx, pdy).alias("bin"),
            F.floor(F.col("d_c").cast("double") / ln).cast("long").alias("w")))
    return (smbr.select("component", F.explode(rows).alias("_r"))
            .select("component", F.col("_r.bin").alias("bin"),
                    F.col("_r.w").alias("w")))


def smbr_sql(comp_pts_sql: str) -> str:
    """DuckDB mirror of smbr_per_component + smbr_direction_weights:
    emits (component, bin, w). ``comp_pts_sql`` selects
    (component, pid, x, y) BIGINT."""
    bin_d = sector_bin_sql("dx", "dy")
    bin_p = sector_bin_sql("pdx", "pdy")
    return f"""WITH comp_pts AS ({comp_pts_sql}),
raw AS (SELECT a.component,
       b.x - a.x AS rdx, b.y - a.y AS rdy
  FROM comp_pts a JOIN comp_pts b ON a.component = b.component
   AND a.pid < b.pid
  WHERE b.x != a.x OR b.y != a.y),
normed AS (SELECT component,
       CASE WHEN rdy < 0 OR (rdy = 0 AND rdx < 0) THEN -rdx ELSE rdx END AS ndx,
       CASE WHEN rdy < 0 OR (rdy = 0 AND rdx < 0) THEN -rdy ELSE rdy END AS ndy
  FROM raw),
dirs AS (SELECT DISTINCT component,
       CAST(ndx / gcd(abs(ndx), abs(ndy)) AS BIGINT) AS dx,
       CAST(ndy / gcd(abs(ndx), abs(ndy)) AS BIGINT) AS dy
  FROM normed),
ext AS (SELECT d.component, d.dx, d.dy,
       MAX(d.dx * p.x + d.dy * p.y) - MIN(d.dx * p.x + d.dy * p.y) AS d_p,
       MAX(d.dx * p.y - d.dy * p.x) - MIN(d.dx * p.y - d.dy * p.x) AS d_c
  FROM dirs d JOIN comp_pts p ON p.component = d.component
  GROUP BY 1, 2, 3),
scored AS (SELECT *, dx * dx + dy * dy AS len2,
       CAST(d_p AS DOUBLE) * CAST(d_c AS DOUBLE)
         / CAST(dx * dx + dy * dy AS DOUBLE) AS area,
       ROW_NUMBER() OVER (PARTITION BY component
           ORDER BY CAST(d_p AS DOUBLE) * CAST(d_c AS DOUBLE)
                    / CAST(dx * dx + dy * dy AS DOUBLE) ASC,
                    dx ASC, dy ASC) AS rn
  FROM ext),
win AS (SELECT component, dx, dy, len2, d_p, d_c FROM scored WHERE rn = 1),
perp AS (SELECT component, len2, d_c,
       CASE WHEN dx < 0 OR (dx = 0 AND dy > 0) THEN dy ELSE -dy END AS pdx,
       CASE WHEN dx < 0 OR (dx = 0 AND dy > 0) THEN -dx ELSE dx END AS pdy
  FROM win)
SELECT component, {bin_d} AS bin,
       CAST(FLOOR(CAST(d_p AS DOUBLE) / SQRT(CAST(len2 AS DOUBLE))) AS BIGINT) AS w
FROM win
UNION ALL
SELECT component, {bin_p} AS bin,
       CAST(FLOOR(CAST(d_c AS DOUBLE) / SQRT(CAST(len2 AS DOUBLE))) AS BIGINT) AS w
FROM perp"""
