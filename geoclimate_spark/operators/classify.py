"""Min-distance classification — the LCZ classifier analogue.

Reference: `TypologyClassification.identifyLczType` (`/root/reference/
geoindicators/.../TypologyClassification.groovy:87-460`) — GeoClimate's
primary LCZ path is NOT the random forest but generated SQL computing, per
zone, the distance in (normalized) indicator space to each LCZ class's
reference point, taking the closest class plus the two smallest distances
and a uniqueness score; `-9999.99` marks unclassifiable rows
(`GenericIndicators.groovy:520,560`).

Here: per-zone feature vector (from the zonal stats library) vs a literal
table of class centroids with per-feature scale weights. Everything is
fixed-order double arithmetic over exactly-derived features, so the DuckDB
oracle matches bit-for-bit. Pure projection — no shuffle, no UDF; at 10^12
rows the classifier rides whatever stage produced the features.

Outputs per row: ``cls`` (nearest class, tie-break = centroid declaration
order), ``dist1``/``dist2`` (two smallest squared distances) and
``uniqueness`` = (d2−d1)/(d2+d1) (the reference's top-2 separation measure).
Rows with any NULL feature get the sentinel class ``'unclassified'`` and
distances −9999.99.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SENTINEL = -9999.99


def _dist2_col(features: list[str], centroid: list[float],
               scales: list[float]) -> Column:
    d = None
    for f, c, s in zip(features, centroid, scales):
        t = (F.col(f) - F.lit(c)) / F.lit(s)
        t = t * t
        d = t if d is None else d + t
    return d


def classify_min_distance(df: DataFrame, key_cols: list[str],
                          features: list[str],
                          centroids: dict[str, list[float]],
                          scales: list[float]) -> DataFrame:
    labels = list(centroids)
    dists = {l: _dist2_col(features, centroids[l], scales) for l in labels}
    d_cols = [dists[l].alias(f"_d_{i}") for i, l in enumerate(labels)]
    t = df.select(*key_cols, *features, *d_cols)
    dd = [F.col(f"_d_{i}") for i in range(len(labels))]
    # argmin with declaration-order tie-break (same chain as the SQL side)
    cls = F.lit(labels[-1])
    for i in range(len(labels) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(labels)):
            c = dd[i] <= dd[j]
            cond = c if cond is None else (cond & c)
        cls = F.when(cond, F.lit(labels[i])).otherwise(cls)
    d1 = dd[0] if len(dd) == 1 else F.least(*dd)
    # second-smallest = min over pairwise max (order-statistic identity)
    pair_maxes = [F.greatest(dd[i], dd[j]) for i in range(len(dd))
                  for j in range(i + 1, len(dd))]
    d2 = (d1 if not pair_maxes
          else pair_maxes[0] if len(pair_maxes) == 1
          else F.least(*pair_maxes))
    uniq = F.when((d1 + d2) > 0, (d2 - d1) / (d2 + d1)).otherwise(F.lit(0.0))
    anynull = None
    for f in features:
        c = F.col(f).isNull()
        anynull = c if anynull is None else (anynull | c)
    return t.select(
        *key_cols,
        F.when(anynull, F.lit("unclassified")).otherwise(cls).alias("cls"),
        F.when(anynull, F.lit(SENTINEL)).otherwise(d1).alias("dist1"),
        F.when(anynull, F.lit(SENTINEL)).otherwise(d2).alias("dist2"),
        F.when(anynull, F.lit(SENTINEL)).otherwise(uniq).alias("uniqueness"))


def _tree_col(node: dict) -> Column:
    """Compile a tree spec to a nested when() chain. A node is either
    {"cls": label} (leaf) or {"feature": f, "thr": t, "lo": n, "hi": n}."""
    if "cls" in node:
        return F.lit(node["cls"])
    return (F.when(F.col(node["feature"]) <= F.lit(node["thr"]),
                   _tree_col(node["lo"]))
            .otherwise(_tree_col(node["hi"])))


def _tree_sql(node: dict) -> str:
    if "cls" in node:
        return f"'{node['cls']}'"
    t = node["thr"]
    return (f"CASE WHEN {node['feature']} <= CAST('{t!r}' AS DOUBLE)"
            f" THEN {_tree_sql(node['lo'])} ELSE {_tree_sql(node['hi'])} END")


def _tree_labels(trees: list[dict]) -> list[str]:
    out: list[str] = []

    def walk(n: dict) -> None:
        if "cls" in n:
            if n["cls"] not in out:
                out.append(n["cls"])
        else:
            walk(n["lo"])
            walk(n["hi"])

    for t in trees:
        walk(t)
    return sorted(out)


def classify_tree_ensemble(df: DataFrame, key_cols: list[str],
                           trees: list[dict]) -> DataFrame:
    """Deterministic tree-ensemble inference — the reference's secondary
    RandomForest classification path (`TypologyClassification.groovy:
    495-745`: a trained model applied per row) with the model supplied as
    literal tree specs (train offline, inline the splits — the same
    treatment as the IVF centroid codebook). Each tree compiles to a nested
    when() chain, the ensemble vote is a majority with lowest-label
    tie-break; everything is branch-free columnar projection, so the DuckDB
    oracle (same CASE compilation) matches by construction. Rows with any
    NULL feature get 'unclassified'.

    Output: (key_cols..., cls, n_votes).
    """
    feats = sorted({n["feature"] for t in trees for n in _iter_nodes(t)
                    if "feature" in n})
    labels = _tree_labels(trees)
    votes = [_tree_col(t).alias(f"_v{i}") for i, t in enumerate(trees)]
    t_df = df.select(*key_cols, *feats, *votes)
    counts = []
    for l in labels:
        c = None
        for i in range(len(trees)):
            term = F.when(F.col(f"_v{i}") == l, F.lit(1)).otherwise(F.lit(0))
            c = term if c is None else c + term
        counts.append(c)
    best = F.lit(labels[-1])
    best_n = counts[-1]
    for i in range(len(labels) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(labels)):
            cc = counts[i] >= counts[j]
            cond = cc if cond is None else (cond & cc)
        best = F.when(cond, F.lit(labels[i])).otherwise(best)
        best_n = F.when(cond, counts[i]).otherwise(best_n)
    anynull = None
    for f in feats:
        c = F.col(f).isNull()
        anynull = c if anynull is None else (anynull | c)
    return t_df.select(
        *key_cols,
        F.when(anynull, F.lit("unclassified")).otherwise(best).alias("cls"),
        F.when(anynull, F.lit(0)).otherwise(best_n).cast("long").alias("n_votes"))


def _iter_nodes(node: dict):
    yield node
    if "cls" not in node and "val" not in node:
        yield from _iter_nodes(node["lo"])
        yield from _iter_nodes(node["hi"])


# -------------------------------------------------------------- regression
def _rtree_col(node: dict) -> Column:
    """Compile a REGRESSION tree spec: leaves are {"val": number}."""
    if "val" in node:
        return F.lit(float(node["val"]))
    return (F.when(F.col(node["feature"]) <= F.lit(node["thr"]),
                   _rtree_col(node["lo"]))
            .otherwise(_rtree_col(node["hi"])))


def _rtree_sql(node: dict) -> str:
    if "val" in node:
        return f"CAST('{float(node['val'])!r}' AS DOUBLE)"
    t = node["thr"]
    return (f"CASE WHEN {node['feature']} <= CAST('{t!r}' AS DOUBLE)"
            f" THEN {_rtree_sql(node['lo'])} ELSE {_rtree_sql(node['hi'])} END")


def regress_tree_ensemble(df: DataFrame, key_cols: list[str],
                          trees: list[dict]) -> DataFrame:
    """Regression-forest inference — the reference's building-height
    estimation model applied per row (`WorkflowGeoIndicators.groovy:1342`
    `estimateBuildingHeight`; model = RF REGRESSION over indicator columns).
    Prediction = mean of per-tree leaf values in declaration order — ONE
    fixed IEEE expression ``(t0 + t1 + … ) / n`` that the DuckDB dual
    (:func:`regress_tree_ensemble_sql`) evaluates identically. Rows with a
    NULL feature predict NULL (the caller decides the fallback).

    Output: (key_cols..., pred)."""
    feats = sorted({n["feature"] for t in trees for n in _iter_nodes(t)
                    if "feature" in n})
    acc = None
    for t in trees:
        c = _rtree_col(t)
        acc = c if acc is None else acc + c
    pred = acc / F.lit(float(len(trees)))
    anynull = None
    for f in feats:
        c = F.col(f).isNull()
        anynull = c if anynull is None else (anynull | c)
    return df.select(*key_cols,
                     F.when(anynull, F.lit(None).cast("double"))
                     .otherwise(pred).alias("pred"))


def regress_tree_ensemble_sql(rows_sql: str, key_cols: list[str],
                              trees: list[dict]) -> str:
    feats = sorted({n["feature"] for t in trees for n in _iter_nodes(t)
                    if "feature" in n})
    expr = "(" + " + ".join(_rtree_sql(t) for t in trees) \
        + f") / CAST('{float(len(trees))!r}' AS DOUBLE)"
    anynull = " OR ".join(f"{f} IS NULL" for f in feats)
    keys = ", ".join(key_cols)
    return (f"SELECT {keys}, CASE WHEN {anynull} THEN NULL"
            f" ELSE {expr} END AS pred FROM ({rows_sql})")


def classify_tree_ensemble_sql(rows_sql: str, key_cols: list[str],
                               trees: list[dict]) -> str:
    feats = sorted({n["feature"] for t in trees for n in _iter_nodes(t)
                    if "feature" in n})
    labels = _tree_labels(trees)
    v_sel = ",\n       ".join(f"{_tree_sql(t)} AS _v{i}"
                              for i, t in enumerate(trees))
    cnt = {l: " + ".join(f"(CASE WHEN _v{i} = '{l}' THEN 1 ELSE 0 END)"
                         for i in range(len(trees))) for l in labels}
    c_sel = ",\n       ".join(f"{cnt[l]} AS _c{i}"
                              for i, l in enumerate(labels))
    cases, ncases = [], []
    for i in range(len(labels) - 1):
        conds = " AND ".join(f"_c{i} >= _c{j}" for j in range(i + 1, len(labels)))
        cases.append(f"WHEN {conds} THEN '{labels[i]}'")
        ncases.append(f"WHEN {conds} THEN _c{i}")
    cls = "CASE " + " ".join(cases) + f" ELSE '{labels[-1]}' END"
    n = "CASE " + " ".join(ncases) + f" ELSE _c{len(labels) - 1} END"
    anynull = " OR ".join(f"{f} IS NULL" for f in feats)
    keys = ", ".join(key_cols)
    return f"""WITH rows_in AS ({rows_sql}),
v AS (SELECT {keys}, {", ".join(feats)},
       {v_sel}
  FROM rows_in),
c AS (SELECT *, {c_sel} FROM v)
SELECT {keys},
       CASE WHEN {anynull} THEN 'unclassified' ELSE {cls} END AS cls,
       CAST(CASE WHEN {anynull} THEN 0 ELSE {n} END AS BIGINT) AS n_votes
FROM c"""


def classify_min_distance_sql(rows_sql: str, key_cols: list[str],
                              features: list[str],
                              centroids: dict[str, list[float]],
                              scales: list[float]) -> str:
    labels = list(centroids)

    def dist(l: str) -> str:
        terms = []
        for f, c, s in zip(features, centroids[l], scales):
            t = f"(({f} - CAST('{c!r}' AS DOUBLE)) / CAST('{s!r}' AS DOUBLE))"
            terms.append(f"({t} * {t})")
        return " + ".join(terms)

    d_sel = ",\n       ".join(f"{dist(l)} AS _d_{i}" for i, l in enumerate(labels))
    cases = []
    for i in range(len(labels) - 1):
        conds = " AND ".join(f"_d_{i} <= _d_{j}" for j in range(i + 1, len(labels)))
        cases.append(f"WHEN {conds} THEN '{labels[i]}'")
    cls = "CASE " + " ".join(cases) + f" ELSE '{labels[-1]}' END"
    dd = [f"_d_{i}" for i in range(len(labels))]
    d1 = "LEAST(" + ", ".join(dd) + ")"
    pairs = [f"GREATEST({dd[i]}, {dd[j]})" for i in range(len(dd))
             for j in range(i + 1, len(dd))]
    d2 = "LEAST(" + ", ".join(pairs) + ")" if pairs else d1
    anynull = " OR ".join(f"{f} IS NULL" for f in features)
    keys = ", ".join(key_cols)
    return f"""WITH rows_in AS ({rows_sql}),
d AS (SELECT {keys}, {", ".join(features)},
       {d_sel}
  FROM rows_in)
SELECT {keys},
       CASE WHEN {anynull} THEN 'unclassified' ELSE {cls} END AS cls,
       CASE WHEN {anynull} THEN {SENTINEL} ELSE {d1} END AS dist1,
       CASE WHEN {anynull} THEN {SENTINEL} ELSE {d2} END AS dist2,
       CASE WHEN {anynull} THEN {SENTINEL}
            WHEN {d1} + {d2} > 0 THEN ({d2} - {d1}) / ({d2} + {d1})
            ELSE 0.0 END AS uniqueness
FROM d"""
