"""Deterministic CART / random-forest TRAINING — the model-fit half of the
classification family.

Reference: `createRandomForestModel` (`/root/reference/geoindicators/.../
TypologyClassification.groovy:495-577`) trains a random forest on a
user-supplied table (collected from H2 into a single-process Smile fit,
`:540-551`) and the trained model is then applied per row; its tests train
in-test (`TypologyClassificationTests.groovy`). The graft mirrors that
exactly: the training table is collected to the driver (the reference is
single-process here too — at 100 TB you SAMPLE the training set first, the
fit itself is never the distributed part), a deterministic CART/forest fit
produces the same literal tree-spec dicts that
:func:`classify.classify_tree_ensemble` / :func:`classify.regress_tree_ensemble`
already compile to codegen projections, and inference stays fully
distributed and shuffle-free.

Determinism contract (what makes the driver oracle replayable): rows are
canonically sorted before the fit; candidate thresholds are the sorted
distinct feature values; the best split minimizes
(impurity, feature_position, threshold) — a total order with no RNG; forest
bagging uses the repo's fixed LCG. Fitting the same rows therefore yields
bit-identical tree specs in any process, so ``oracle_sql()`` can re-train
independently and inline the same literals.
"""

from __future__ import annotations

import math

from ..sources.layers import _lcg


# ------------------------------------------------------------------- split
def _gini(counts: dict[str, int]) -> float:
    n = sum(counts.values())
    return 1.0 - sum((c / n) ** 2 for c in counts.values())


def _cls_impurity(rows: list[tuple], li: int) -> float:
    counts: dict[str, int] = {}
    for r in rows:
        counts[r[li]] = counts.get(r[li], 0) + 1
    return _gini(counts)


def _reg_impurity(rows: list[tuple], li: int) -> float:
    n = len(rows)
    s = sum(r[li] for r in rows)
    return sum((r[li] - s / n) ** 2 for r in rows)


def _best_split(rows: list[tuple], feat_idx: list[int], li: int,
                min_leaf: int, reg: bool) -> tuple | None:
    """(score, fpos, thr) minimizing weighted impurity; None if no valid
    split. Tie-break = (score, feature position, threshold) — total order."""
    imp = _reg_impurity if reg else _cls_impurity
    best = None
    for fpos, fi in enumerate(feat_idx):
        vals = sorted({r[fi] for r in rows})
        for thr in vals[:-1]:
            lo = [r for r in rows if r[fi] <= thr]
            hi = [r for r in rows if r[fi] > thr]
            if len(lo) < min_leaf or len(hi) < min_leaf:
                continue
            score = (len(lo) * imp(lo, li) + len(hi) * imp(hi, li)) \
                if not reg else (imp(lo, li) + imp(hi, li))
            cand = (score, fpos, float(thr))
            if best is None or cand < best:
                best = cand
    return best


def _leaf(rows: list[tuple], li: int, reg: bool) -> dict:
    if reg:
        return {"val": sum(r[li] for r in rows) / len(rows)}
    counts: dict[str, int] = {}
    for r in rows:
        counts[r[li]] = counts.get(r[li], 0) + 1
    # majority, lowest-label tie-break (the apply path's vote convention)
    best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return {"cls": best[0]}


def _fit_node(rows: list[tuple], features: list[str], feat_idx: list[int],
              li: int, depth: int, max_depth: int, min_leaf: int,
              reg: bool) -> dict:
    if depth >= max_depth or len(rows) < 2 * min_leaf:
        return _leaf(rows, li, reg)
    if not reg and len({r[li] for r in rows}) == 1:
        return _leaf(rows, li, reg)
    sp = _best_split(rows, feat_idx, li, min_leaf, reg)
    if sp is None:
        return _leaf(rows, li, reg)
    _, fpos, thr = sp
    fi = feat_idx[fpos]
    lo = [r for r in rows if r[fi] <= thr]
    hi = [r for r in rows if r[fi] > thr]
    return {"feature": features[fpos], "thr": thr,
            "lo": _fit_node(lo, features, feat_idx, li, depth + 1,
                            max_depth, min_leaf, reg),
            "hi": _fit_node(hi, features, feat_idx, li, depth + 1,
                            max_depth, min_leaf, reg)}


def fit_tree(rows: list[dict], features: list[str], label: str,
             max_depth: int = 4, min_leaf: int = 5) -> dict:
    """One deterministic CART tree over ``rows`` (list of dicts): Gini
    impurity, leaves {"cls": label}. Rows are canonically sorted first so
    the fit is independent of input order (the collect-from-Spark path has
    no stable order guarantee)."""
    cols = list(features) + [label]
    tup = sorted(tuple(r[c] for c in cols) for r in rows)
    feat_idx = list(range(len(features)))
    return _fit_node(tup, list(features), feat_idx, len(features), 0,
                     max_depth, min_leaf, False)


N_TREES = 5
FOREST_MAX_DEPTH = 4
FOREST_MIN_LEAF = 5
FOREST_SEED = 65_537


def fit_forest(rows: list[dict], features: list[str], label: str,
               mode: str = "cls") -> list[dict]:
    """Deterministic bagged forest: per tree, an LCG bootstrap resample of
    the canonically-sorted rows and an LCG feature subset of size
    ceil(sqrt(F)) (`TypologyClassification.groovy:540-551` mtry analogue).
    Same rows → same trees, in any process — the oracle-replay contract."""
    reg = mode == "reg"
    cols = list(features) + [label]
    base = sorted(tuple(r[c] for c in cols) for r in rows)
    n = len(base)
    m = max(2, math.isqrt(len(features)) + (0 if math.isqrt(len(features)) ** 2 == len(features) else 1))
    m = min(m, len(features))
    s = FOREST_SEED
    trees = []
    for _ in range(N_TREES):
        picks = []
        for _ in range(n):
            s = _lcg(s)
            picks.append(base[s % n])
        picks.sort()
        fsub = []
        avail = list(range(len(features)))
        for _ in range(m):
            s = _lcg(s)
            fsub.append(avail.pop(s % len(avail)))
        fsub.sort()
        sub_feats = [features[i] for i in fsub]
        li = len(features)
        trees.append(_fit_node(picks, sub_feats, fsub, li, 0,
                               FOREST_MAX_DEPTH, FOREST_MIN_LEAF, reg))
    return trees


TRAIN_MAX_ROWS = 100_000


def collect_training(df, features: list[str], label: str,
                     max_rows: int = TRAIN_MAX_ROWS) -> list[dict]:
    """Spark training table → driver rows (the `:540` H2-collect analogue).
    At scale: ``df.sample(...)`` upstream; the fit input stays small.

    The small-input contract is ENFORCED, not advisory: the collect is
    bounded by ``limit(max_rows + 1)`` (driver memory stays capped even on
    a 10^12-row input) and anything over ``max_rows`` raises instead of
    silently fitting on a truncated table."""
    rows = df.select(*features, label).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"collect_training: input exceeds max_rows={max_rows}; "
            "sample upstream (df.sample / .limit) before fitting")
    return [r.asDict() for r in rows]


# ---------------------------------------------------------------- fixtures
N_BUILDINGS = 360
_LABELS = ("large", "mid", "small")


def synth_building_rows() -> list[tuple]:
    """Deterministic 'building' training fixture:
    (bld_id, zone_id, area, perim, elong, height, size_cls) — integer
    features from the repo LCG; ``height`` follows a planted linear rule
    plus bounded LCG noise and is NULL for every 4th row (the
    estimateBuildingHeight missing-attribute shape,
    `WorkflowGeoIndicators.groovy:1224,1342`); ``size_cls`` is the planted
    classification label (NULL on held-out rows, every 5th)."""
    rows = []
    s = 424_243
    for i in range(N_BUILDINGS):
        s = _lcg(s)
        area = 100 + s % 9_000
        s = _lcg(s)
        perim = 40 + s % 1_200
        s = _lcg(s)
        elong = 1 + s % 9
        s = _lcg(s)
        noise = s % 21 - 10
        height = 3 + (area // 900) * 3 + (elong - 5) + noise // 5
        h = None if i % 4 == 3 else float(max(3, height))
        lbl = ("large" if area >= 6_000 else "mid" if area >= 2_500
               else "small")
        lbl = None if i % 5 == 4 else lbl
        rows.append((i, i % 12, area, perim, elong, h, lbl))
    return rows


def synth_buildings_df(spark):
    return spark.createDataFrame(
        synth_building_rows(),
        "bld_id long, zone_id long, area long, perim long, elong long, "
        "height double, size_cls string")


def synth_buildings_values_sql() -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, str):
            return f"'{v}'"
        return str(v)

    vals = ",\n  ".join(
        "(" + ", ".join(lit(v) for v in row) + ")"
        for row in synth_building_rows())
    return ("SELECT CAST(bld_id AS BIGINT) AS bld_id,"
            " CAST(zone_id AS BIGINT) AS zone_id,"
            " CAST(area AS BIGINT) AS area, CAST(perim AS BIGINT) AS perim,"
            " CAST(elong AS BIGINT) AS elong,"
            " CAST(height AS DOUBLE) AS height, size_cls"
            " FROM (VALUES\n  " + vals
            + "\n) AS t(bld_id, zone_id, area, perim, elong, height, size_cls)")


def trained_cls_forest() -> list[dict]:
    """The classification forest both the engine query and the DuckDB oracle
    use: fit on the labeled fixture rows (deterministic — see module
    docstring)."""
    feats = ["area", "perim", "elong"]
    rows = [{"area": a, "perim": p, "elong": e, "size_cls": l}
            for (_, _, a, p, e, _, l) in synth_building_rows()
            if l is not None]
    return fit_forest(rows, feats, "size_cls")


def trained_reg_forest() -> list[dict]:
    """The height-regression forest (fit on rows where height is present)."""
    feats = ["area", "perim", "elong"]
    rows = [{"area": a, "perim": p, "elong": e, "height": h}
            for (_, _, a, p, e, h, _) in synth_building_rows()
            if h is not None]
    return fit_forest(rows, feats, "height", mode="reg")
