"""In-engine k-means (Lloyd's) training in int64 fixed-point.

Closes the training side of the ANN ladder: IVF/IVF-PQ consume centroid
tables "trained offline, inlined as literals" (similarity.py); this
operator IS that training run, executed as a distributed DataFrame program.
Reference analogue: GeoClimate trains its RandomForest inside the engine
(`/root/reference/geoindicators/.../TypologyClassification.groovy:495-577`);
our train.py covers trees, this covers the clustering family.

Determinism contract (the whole point, as with linkrank.py's fixed-point
PageRank): embeddings are quantized once to int64 (floor(x·2^20) — floor,
not round: DuckDB and Spark disagree on .5 rounding but agree on floor),
distances are exact integer sums of squared diffs, and the centroid update
is floor(mean) computed through ONE double division per (cluster, dim)
whose operands are exactly representable — so k iterations replay
bit-identically in the DuckDB oracle (unrolled CTEs, one per iteration).

Iteration plan shape (the 10^12-row story):
* assignment: vectors × k centroids via a constant-key BROADCAST hash join
  (k rows; never a BroadcastNestedLoopJoin) + a row_number window keyed by
  vector — one shuffle per iteration;
* update: posexplode to (cluster, dim, value) + groupBy — map-side partial
  aggregation shrinks the shuffle to k·dim rows;
* empty clusters keep their previous centroid (LEFT JOIN + coalesce), so
  the iterate is total;
* per-iteration centroids are localCheckpoint'd (k rows) — the plan does
  not grow with the iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KM_K = 4
KM_ITERS = 3
KM_Q = 1 << 20
KM_DIM = 64
KM_NPROBE = 2


def _quant(vec: str) -> str:
    return (f"transform({vec}, x -> "
            f"CAST(FLOOR(CAST(x AS DOUBLE) * {KM_Q}) AS BIGINT))")


def _d2_terms(a: str, b: str, dim: int, el) -> str:
    return " + ".join(
        f"({el(a, i)} - {el(b, i)}) * ({el(a, i)} - {el(b, i)})"
        for i in range(1, dim + 1))


def _d2_spark(a: str, b: str, dim: int) -> str:
    return _d2_terms(a, b, dim, lambda c, i: f"element_at({c}, {i})")


def _d2_sql(a: str, b: str, dim: int) -> str:
    return _d2_terms(a, b, dim, lambda c, i: f"{c}[{i}]")


def _quant_frame(emb: DataFrame, id_col: str, vec: str) -> DataFrame:
    return (emb.select(F.col(id_col).alias("id"),
                       F.expr(_quant(vec)).alias("q"))
            .localCheckpoint())


def _assign(q: DataFrame, cents: DataFrame, dim: int) -> DataFrame:
    """(id, cl, q, _d2): each vector's nearest centroid (exact
    integer distance, lowest-cl tie-break).

    Constant-key broadcast join — but the key is computed FROM a column on
    each side (pmod(id, 1) == 0): a literal key on both sides gets
    constant-folded out of the join condition and Catalyst falls back to
    BroadcastNestedLoopJoin, which the plan guard forbids."""
    j = (q.withColumn("_one", F.pmod(F.col("id"), F.lit(1)))
         .join(F.broadcast(cents.withColumn(
             "_one", F.pmod(F.col("cl"), F.lit(1)))), "_one")
         .withColumn("_d2", F.expr(_d2_spark("q", "c", dim))))
    w = Window.partitionBy("id").orderBy(F.col("_d2").asc(),
                                         F.col("cl").asc())
    return (j.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", "cl", "q", "_d2"))


def train_centroids(emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS,
                    dim: int = KM_DIM,
                    q: DataFrame | None = None) -> DataFrame:
    """(cl, c): centroids after ``iters`` Lloyd rounds from the
    deterministic seed (centroids = quantized vectors id 0..k-1)."""
    if q is None:
        q = _quant_frame(emb, "vec_id", "embedding")
    cents = (q.where(F.col("id") < k)
             .select(F.col("id").alias("cl"), F.col("q").alias("c")))
    for _ in range(iters):
        asg = _assign(q, cents, dim)
        per = (asg.select("cl", F.posexplode("q").alias("d", "v"))
               .groupBy("cl", "d")
               .agg(F.sum("v").alias("_s"), F.count("*").alias("_n")))
        upd = (per.withColumn("m", F.floor(
            F.col("_s").cast("double") / F.col("_n").cast("double"))
            .cast("long"))
            .groupBy("cl")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda x: x["m"]).alias("_new")))
        cents = (cents.join(upd, "cl", "left")
                 .select("cl", F.coalesce(F.col("_new"), F.col("c"))
                         .alias("c"))
                 .localCheckpoint())
    return cents


def kmeans_assignments(emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS,
                       dim: int = KM_DIM) -> DataFrame:
    """(vec_id, cluster, dist2): final assignment after ``iters`` Lloyd
    rounds from the deterministic seed (centroids = vectors id 0..k-1),
    plus one closing assignment against the trained centroids. dist2 is the
    exact integer squared distance in quantized space."""
    q = _quant_frame(emb, "vec_id", "embedding")
    cents = train_centroids(emb, k, iters, dim, q=q)
    return (_assign(q, cents, dim)
            .select(F.col("id").alias("vec_id"),
                    F.col("cl").cast("long").alias("cluster"),
                    F.col("_d2").cast("long").alias("dist2")))


def ivf_trained_topk(emb: DataFrame, query_ids: list[int],
                     k: int = 5) -> DataFrame:
    """IVF top-k over lists built by the engine's OWN k-means training run
    (train → index → serve, one oracled query). Vectors live in exactly one
    trained list; a query probes its ``KM_NPROBE`` nearest lists (exact
    integer centroid distance, lowest-cl tie-break) and candidates re-rank
    by exact cosine — same output schema and tie rules as every other ANN
    operator, so results are comparable across the ladder."""
    from .similarity import _dot, _with_norm
    q = _quant_frame(emb, "vec_id", "embedding")
    cents = train_centroids(emb, q=q)
    nb = _with_norm(emb, "vec_id", "embedding")
    vecs = (_assign(q, cents, KM_DIM).select("id", "cl")
            .join(nb, "id")
            .select("id", "cl", "v", "nrm"))
    qw = Window.partitionBy("id").orderBy(F.col("_d2").asc(),
                                          F.col("cl").asc())
    probes = F.broadcast(
        q.where(F.col("id").isin(query_ids))
        .withColumn("_one", F.pmod(F.col("id"), F.lit(1)))
        .join(F.broadcast(cents.withColumn(
            "_one", F.pmod(F.col("cl"), F.lit(1)))), "_one")
        .withColumn("_d2", F.expr(_d2_spark("q", "c", KM_DIM)))
        .withColumn("_pr", F.row_number().over(qw))
        .where(F.col("_pr") <= KM_NPROBE)
        .join(nb.select(F.col("id"), F.col("v").alias("qv"),
                        F.col("nrm").alias("qn")), "id")
        .select(F.col("id").alias("query_id"), "cl", "qv", "qn"))
    cand = (probes.join(vecs, "cl")
            .where(F.col("id") != F.col("query_id"))
            .select("query_id", F.col("id").alias("vec_id"),
                    (_dot(F.col("qv"), F.col("v"))
                     / (F.col("qn") * F.col("nrm"))).alias("cos")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "vec_id", "cos"))


def _train_parts_sql(k: int, iters: int, dim: int, rel: str,
                     id_col: str, vec: str) -> list[str]:
    """CTE chain q, c0, (a/u/l/c)×iters — ends at c{iters}, the trained
    centroids. generate_subscripts aligns with unnest for the per-dim
    update; list(m ORDER BY d) reassembles the centroid.

    q and every c{t} are MATERIALIZED: DuckDB inlines plain CTEs at every
    reference, and a consumer referencing c{iters} twice (assignment +
    query probes) would duplicate the whole unrolled training tree —
    measured as a planner memory blowup."""
    d2 = _d2_sql("v.q", "c.c", dim)
    parts = [
        f"q AS MATERIALIZED (SELECT {id_col} AS id, "
        f"list_transform({vec}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {KM_Q})"
        f" AS BIGINT)) AS q FROM {rel})",
        f"c0 AS MATERIALIZED (SELECT id AS cl, q AS c FROM q WHERE id < {k})",
    ]
    for t in range(1, iters + 1):
        prev, cur = f"c{t - 1}", f"c{t}"
        parts.append(
            f"a{t} AS (SELECT id, cl, q FROM ("
            f"SELECT v.id, c.cl, v.q, ROW_NUMBER() OVER (PARTITION BY v.id "
            f"ORDER BY {d2} ASC, c.cl ASC) AS rn "
            f"FROM q v CROSS JOIN {prev} c) WHERE rn = 1)")
        parts.append(
            f"u{t} AS (SELECT cl, d, CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / "
            f"CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m FROM ("
            f"SELECT cl, unnest(q) AS val, generate_subscripts(q, 1) AS d "
            f"FROM a{t}) GROUP BY cl, d)")
        parts.append(
            f"l{t} AS (SELECT cl, list(m ORDER BY d) AS lst "
            f"FROM u{t} GROUP BY cl)")
        parts.append(
            f"{cur} AS MATERIALIZED (SELECT p.cl, COALESCE(l.lst, p.c) AS c "
            f"FROM {prev} p LEFT JOIN l{t} l ON l.cl = p.cl)")
    return parts


def kmeans_assignments_sql(rel: str = "embeddings") -> str:
    """DuckDB dual: the iterate unrolled as one CTE chain (the linkrank.py
    pattern)."""
    d2 = _d2_sql("v.q", "c.c", KM_DIM)
    parts = _train_parts_sql(KM_K, KM_ITERS, KM_DIM, rel, "vec_id",
                             "embedding")
    final = (
        "SELECT id AS vec_id, CAST(cl AS BIGINT) AS cluster, "
        f"CAST(d2 AS BIGINT) AS dist2 FROM ("
        f"SELECT v.id, c.cl, {d2} AS d2, ROW_NUMBER() OVER ("
        f"PARTITION BY v.id ORDER BY {d2} ASC, c.cl ASC) AS rn "
        f"FROM q v CROSS JOIN c{KM_ITERS} c) WHERE rn = 1")
    return "WITH " + ",\n".join(parts) + "\n" + final


def ivf_trained_topk_sql(query_ids: list[int], k: int = 5) -> str:
    from .similarity import _DOT_SQL
    d2 = _d2_sql("v.q", "c.c", KM_DIM)
    ids = ", ".join(str(i) for i in query_ids)
    nrm = _DOT_SQL.format(a="embedding", b="embedding")
    parts = _train_parts_sql(KM_K, KM_ITERS, KM_DIM, "embeddings", "vec_id",
                             "embedding")
    parts.append(
        f"nb AS (SELECT vec_id AS id, embedding AS v, SQRT({nrm}) AS nrm "
        "FROM embeddings)")
    parts.append(
        f"asg AS (SELECT id, cl FROM ("
        f"SELECT v.id, c.cl, ROW_NUMBER() OVER (PARTITION BY v.id "
        f"ORDER BY {d2} ASC, c.cl ASC) AS rn "
        f"FROM q v CROSS JOIN c{KM_ITERS} c) WHERE rn = 1)")
    parts.append(
        f"probes AS (SELECT p.id AS query_id, p.cl, n.v AS qv, n.nrm AS qn "
        f"FROM (SELECT v.id, c.cl, ROW_NUMBER() OVER (PARTITION BY v.id "
        f"ORDER BY {d2} ASC, c.cl ASC) AS pr "
        f"FROM q v CROSS JOIN c{KM_ITERS} c WHERE v.id IN ({ids})) p "
        f"JOIN nb n ON n.id = p.id WHERE p.pr <= {KM_NPROBE})")
    cos = _DOT_SQL.format(a="p.qv", b="n.v") + " / (p.qn * n.nrm)"
    parts.append(
        f"cand AS (SELECT p.query_id, a.id AS vec_id, {cos} AS cos "
        f"FROM probes p JOIN asg a ON a.cl = p.cl "
        f"JOIN nb n ON n.id = a.id WHERE a.id != p.query_id)")
    final = (
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos "
        f"FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, vec_id ASC) AS rank FROM cand) "
        f"WHERE rank <= {k}")
    return "WITH " + ",\n".join(parts) + "\n" + final
