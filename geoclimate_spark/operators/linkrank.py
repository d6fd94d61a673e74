"""Host-level link-graph PageRank — exact integer fixed-point iterations.

Web-corpus curation ranks hosts by link authority before sampling (the
host-quality prior in CommonCrawl-style pipelines). The reference's closest
shape is its zone-adjacency connected-components pass
(`GenericIndicators.groovy` createBlocks analogue, already grafted in
operators/components.py); PageRank is the weighted generalization a
trillion-page pipeline actually runs.

Exactness contract: classic PageRank is float arithmetic whose associativity
varies across engines. This operator runs k fixed iterations in int64
fixed-point (SCALE = 10^6):

    contrib(e)   = rank(src) div outdeg(src)          (exact integer div)
    rank'(v)     = (15·SCALE) div 100
                   + (85 · Σ_in contrib) div 100      (exact, Σ is integer)

Every quantity is an exact int64 (Σ_in ≤ n_hosts·SCALE), so the DuckDB dual
— the same k iterations unrolled as CTEs — replays bit-for-bit. Dangling
hosts (outdeg 0) contribute nothing (documented simplification, identical
on both sides); hosts with no in-links hold the base rank.

Scale shape per iteration: one equi-join of the rank table to the edge list
on ``src`` + one groupBy on ``dst`` — the canonical distributed PageRank
(rank table partitioned by host key; the edge list is the big side and
never moves if pre-bucketed by src). k iterations = 2k shuffles, no Python.
The demo edge list is SYNTHESIZED deterministically from the distinct-host
dim (hash-selected pairs) — a fixture-side broadcast of a tiny dim, not the
operator's scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60_col, hash60_sql

SCALE = 1_000_000
DAMP_NUM, DAMP_DEN = 85, 100
BASE = 15 * SCALE // 100
N_ITER = 3
EDGE_MOD = 5          # keep pairs with hash60(src>dst) % EDGE_MOD == 0


def synth_host_edges(docs: DataFrame) -> DataFrame:
    """Deterministic sparse host-link graph: ordered pair (a, b), a ≠ b,
    kept when hash60(a || '>' || b) % EDGE_MOD == 0. Fixture synthesis over
    the tiny distinct-host dim (broadcast self-pair of a dim table — NOT
    the operator's scale path; real pipelines extract edges from hrefs)."""
    hosts = (docs.where(F.col("source").isNotNull())
             .select(F.col("source").alias("src")).distinct())
    dsts = hosts.select(F.col("src").alias("dst"))
    # tiny-dim pair universe: a deliberate broadcast non-equi pairing (the
    # dim is n_hosts rows; real pipelines extract edges from hrefs instead)
    pairs = hosts.join(F.broadcast(dsts), F.col("src") != F.col("dst"))
    key = hash60_col(F.concat(F.col("src"), F.lit(">"), F.col("dst")))
    return pairs.where(key % EDGE_MOD == 0)


def host_pagerank(docs: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """k-iteration integer PageRank over the synthesized host graph.
    Returns (host, outdeg, indeg, rank_int) with rank_int the exact
    fixed-point rank after ``n_iter`` iterations (SCALE = 10^6)."""
    # localCheckpoint: materialize the tiny host dim + synthesized edge list
    # ONCE and truncate their lineage — the k iteration subtrees reference
    # plain in-memory relations instead of re-expanding the synthesis DAG
    # (and its non-equi pairing) k times
    hosts = (docs.where(F.col("source").isNotNull())
             .select(F.col("source").alias("host")).distinct()
             .localCheckpoint(True))
    edges = synth_host_edges(docs).localCheckpoint(True)
    outdeg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    indeg = edges.groupBy("dst").agg(F.count("*").cast("long").alias("indeg"))
    rank = hosts.select("host", F.lit(SCALE).cast("long").alias("rank_int"))
    for _ in range(n_iter):
        contrib = (edges.join(rank, edges["src"] == rank["host"])
                   .join(outdeg, "src")
                   .select(F.col("dst"),
                           F.expr("rank_int div outdeg").alias("_c")))
        incoming = contrib.groupBy("dst").agg(F.sum("_c").alias("_in"))
        rank = (hosts.join(incoming, hosts["host"] == incoming["dst"], "left")
                .select("host",
                        (F.lit(BASE)
                         + F.expr(f"({DAMP_NUM} * coalesce(_in, 0L))"
                                  f" div {DAMP_DEN}"))
                        .cast("long").alias("rank_int")))
    return (hosts
            .join(outdeg, hosts["host"] == outdeg["src"], "left").drop("src")
            .join(indeg, hosts["host"] == indeg["dst"], "left").drop("dst")
            .join(rank, "host")
            .select("host",
                    F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
                    F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
                    "rank_int"))


N_LABELS = 3
SEED_MOD = 3   # hosts with hash60(host) % SEED_MOD == 0 are labeled seeds
LP_ITER = 3


def host_label_propagation(docs: DataFrame,
                           n_iter: int = LP_ITER) -> DataFrame:
    """Semi-supervised label propagation over the synthesized host graph —
    the host-category spreading pass a web-corpus curation pipeline runs to
    extend a small seed taxonomy (manually labeled hosts) to the whole
    crawl. Same fixture graph as :func:`host_pagerank`; different iteration
    algebra (argmax vote vs damped sum).

    Seeds: hosts with ``hash60(host) % SEED_MOD == 0`` hold the fixed label
    ``hash60(host) % N_LABELS``. Each synchronous round, every non-seed
    host takes the majority label of its labeled neighbors (undirected,
    symmetrized edges), ties broken by smallest label; hosts with no
    labeled neighbor keep their previous label (NULL until reached).

    Exactness: votes are int64 counts and the winner is the min of
    ``struct(-votes, label)`` — a total order, no floats anywhere, so the
    k-round unrolled DuckDB dual replays bit-for-bit.

    Scale shape per round: one equi-join of the label table to the
    symmetrized edge list + one two-level groupBy — identical to the
    distributed PageRank shape (2 shuffles/round, no Python)."""
    hosts = (docs.where(F.col("source").isNotNull())
             .select(F.col("source").alias("host")).distinct()
             .localCheckpoint(True))
    edges = synth_host_edges(docs).localCheckpoint(True)
    sym = (edges.select("src", "dst")
           .union(edges.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
           .distinct().localCheckpoint(True))
    h = hash60_col(F.col("host"))
    lab = hosts.select(
        "host",
        (h % SEED_MOD == 0).cast("long").alias("is_seed"),
        F.when(h % SEED_MOD == 0, h % N_LABELS)
        .cast("long").alias("seed_label"),
        F.when(h % SEED_MOD == 0, h % N_LABELS).cast("long").alias("label"))
    for _ in range(n_iter):
        votes = (sym.join(lab.where(F.col("label").isNotNull())
                          .select(F.col("host").alias("dst"), "label"), "dst")
                 .groupBy("src", "label")
                 .agg(F.count("*").cast("long").alias("votes")))
        winner = (votes.groupBy("src")
                  .agg(F.min(F.struct((-F.col("votes")).alias("nv"),
                                      F.col("label"))).alias("b"))
                  .select(F.col("src").alias("host"),
                          F.col("b.label").alias("new_label")))
        lab = (lab.join(winner, "host", "left")
               .select("host", "is_seed", "seed_label",
                       F.when(F.col("is_seed") == 1, F.col("seed_label"))
                       .otherwise(F.coalesce("new_label", "label"))
                       .cast("long").alias("label")))
    return lab


def host_label_propagation_sql(doc_rel: str = "documents") -> str:
    key = hash60_sql("(a.host || '>' || b.host)")
    h = hash60_sql("host")
    ctes = [f"""hosts AS (SELECT DISTINCT source AS host FROM {doc_rel}
          WHERE source IS NOT NULL),
edges AS (SELECT a.host AS src, b.host AS dst
          FROM hosts a JOIN hosts b ON a.host <> b.host
          WHERE ({key}) % {EDGE_MOD} = 0),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
l0 AS (SELECT host,
              CAST(CASE WHEN ({h}) % {SEED_MOD} = 0 THEN 1 ELSE 0 END
                   AS BIGINT) AS is_seed,
              CAST(CASE WHEN ({h}) % {SEED_MOD} = 0
                        THEN ({h}) % {N_LABELS} END AS BIGINT) AS seed_label,
              CAST(CASE WHEN ({h}) % {SEED_MOD} = 0
                        THEN ({h}) % {N_LABELS} END AS BIGINT) AS label
       FROM hosts)"""]
    for i in range(LP_ITER):
        ctes.append(f"""v{i} AS (
  SELECT s.src AS host, l.label, CAST(COUNT(*) AS BIGINT) AS votes
  FROM sym s JOIN l{i} l ON s.dst = l.host
  WHERE l.label IS NOT NULL GROUP BY 1, 2),
w{i} AS (SELECT host, label AS new_label FROM (
  SELECT host, label,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY votes DESC, label ASC) AS rn
  FROM v{i}) WHERE rn = 1),
l{i + 1} AS (
  SELECT l.host, l.is_seed, l.seed_label,
         CAST(CASE WHEN l.is_seed = 1 THEN l.seed_label
                   ELSE COALESCE(w.new_label, l.label) END AS BIGINT) AS label
  FROM l{i} l LEFT JOIN w{i} w ON l.host = w.host)""")
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT host, is_seed, seed_label, label FROM l{LP_ITER}")


HITS_ITER = 3


def _ck(df: DataFrame, col: str) -> DataFrame:
    """Column-derived constant join key (pmod(x, 1) = 0) — the kmeans.py
    idiom: a LITERAL key would constant-fold the broadcast hash join into
    a BroadcastNestedLoopJoin."""
    return df.withColumn("_one", F.pmod(F.col(col), F.lit(1)))


def host_hits(docs: DataFrame) -> DataFrame:
    """k-iteration integer HITS (Kleinberg hubs & authorities) over the
    synthesized host graph — the companion ranking to :func:`host_pagerank`
    (authorities = linked-to by good hubs; hubs = linking to good
    authorities; curation uses hub scores to find directory/spam hosts and
    authority scores as a quality prior).

    Exactness: classic HITS L2-normalizes with a sqrt — float territory.
    This operator max-normalizes instead (a standard HITS variant, same
    fixed point direction): after each update ``x ← (x · SCALE) div max(x)``
    — exact int64 division, so the k-round unrolled DuckDB dual replays
    bit-for-bit. Update order is the classic one: authorities from previous
    hubs, then hubs from the NEW authorities.

    Int64 bound: ``n_hosts · SCALE²  < 2^63`` → safe to ~9·10^6 hosts at
    SCALE 10^6; larger graphs lower SCALE (module constant), same contract.

    Scale shape per round: two equi-join + groupBy passes over the edge
    list (the PageRank shape run once per direction) plus a 1-row max
    aggregate joined back via the constant-key broadcast idiom — no
    corpus-wide window, no Python."""
    hosts = (docs.where(F.col("source").isNotNull())
             .select(F.col("source").alias("host")).distinct()
             .localCheckpoint(True))
    edges = synth_host_edges(docs).localCheckpoint(True)
    outdeg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    indeg = edges.groupBy("dst").agg(F.count("*").cast("long").alias("indeg"))

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        # checkpoint the raw scores: the max branch and the divide branch
        # would otherwise each replay the whole prior-round DAG, doubling
        # the plan per round (the bpetrain.py idiom). Lazy (eager=False):
        # materialization piggybacks on the next action instead of paying
        # one driver-side job per round (measured 12.4 s → 5.8 s warm)
        scores = scores.localCheckpoint(False)
        mx = (scores.groupBy().agg(F.greatest(F.max(col), F.lit(1))
                                   .cast("long").alias("_mx")))
        return (_ck(scores, col)
                .join(F.broadcast(_ck(mx, "_mx")), "_one")
                .select("host", F.expr(f"({col} * {SCALE}) div _mx")
                        .cast("long").alias(col)))

    auth = hosts.select("host", F.lit(SCALE).cast("long").alias("auth_int"))
    hub = hosts.select("host", F.lit(SCALE).cast("long").alias("hub_int"))
    for _ in range(HITS_ITER):
        a_in = (edges.join(hub.select(F.col("host").alias("src"),
                                      F.col("hub_int")), "src")
                .groupBy("dst").agg(F.sum("hub_int").alias("_s")))
        auth = _norm(hosts.join(a_in, hosts["host"] == a_in["dst"], "left")
                     .select("host", F.coalesce("_s", F.lit(0))
                             .cast("long").alias("auth_int")), "auth_int")
        h_in = (edges.join(auth.select(F.col("host").alias("dst"),
                                       F.col("auth_int")), "dst")
                .groupBy("src").agg(F.sum("auth_int").alias("_s")))
        hub = _norm(hosts.join(h_in, hosts["host"] == h_in["src"], "left")
                    .select("host", F.coalesce("_s", F.lit(0))
                            .cast("long").alias("hub_int")), "hub_int")
    return (hosts
            .join(outdeg, hosts["host"] == outdeg["src"], "left").drop("src")
            .join(indeg, hosts["host"] == indeg["dst"], "left").drop("dst")
            .join(auth, "host").join(hub, "host")
            .select("host",
                    F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
                    F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
                    "auth_int", "hub_int"))


def host_hits_sql(doc_rel: str = "documents") -> str:
    """DuckDB dual of :func:`host_hits` — the same k rounds unrolled, max
    normalization via a scalar subquery.

    Every CTE is MATERIALIZED: each round reads the previous round's CTE
    twice (rows + the MAX subquery), and DuckDB inlines plain CTEs at each
    reference, so the work would grow with every round."""
    key = hash60_sql("(a.host || '>' || b.host)")
    ctes = [f"""hosts AS MATERIALIZED (SELECT DISTINCT source AS host FROM {doc_rel}
          WHERE source IS NOT NULL),
edges AS MATERIALIZED (SELECT a.host AS src, b.host AS dst
          FROM hosts a JOIN hosts b ON a.host <> b.host
          WHERE ({key}) % {EDGE_MOD} = 0),
outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM edges GROUP BY 1),
indeg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS indeg
          FROM edges GROUP BY 1),
a0 AS (SELECT host, CAST({SCALE} AS BIGINT) AS auth_int FROM hosts),
h0 AS (SELECT host, CAST({SCALE} AS BIGINT) AS hub_int FROM hosts)"""]
    for i in range(HITS_ITER):
        ctes.append(f"""ar{i} AS MATERIALIZED (
  SELECT hh.host, CAST(COALESCE(s._s, 0) AS BIGINT) AS raw
  FROM hosts hh LEFT JOIN (
    SELECT e.dst, SUM(h.hub_int) AS _s
    FROM edges e JOIN h{i} h ON e.src = h.host GROUP BY 1) s
  ON hh.host = s.dst),
a{i + 1} AS MATERIALIZED (
  SELECT host, CAST((raw * {SCALE})
    // GREATEST((SELECT MAX(raw) FROM ar{i}), 1) AS BIGINT) AS auth_int
  FROM ar{i}),
hr{i} AS MATERIALIZED (
  SELECT hh.host, CAST(COALESCE(s._s, 0) AS BIGINT) AS raw
  FROM hosts hh LEFT JOIN (
    SELECT e.src, SUM(a.auth_int) AS _s
    FROM edges e JOIN a{i + 1} a ON e.dst = a.host GROUP BY 1) s
  ON hh.host = s.src),
h{i + 1} AS MATERIALIZED (
  SELECT host, CAST((raw * {SCALE})
    // GREATEST((SELECT MAX(raw) FROM hr{i}), 1) AS BIGINT) AS hub_int
  FROM hr{i})""")
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT h.host, CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS outdeg,\n"
            f"       CAST(COALESCE(i.indeg, 0) AS BIGINT) AS indeg,\n"
            f"       a.auth_int, u.hub_int\n"
            f"FROM hosts h LEFT JOIN outdeg o ON h.host = o.src\n"
            f"     LEFT JOIN indeg i ON h.host = i.dst\n"
            f"     JOIN a{HITS_ITER} a ON h.host = a.host\n"
            f"     JOIN h{HITS_ITER} u ON h.host = u.host")


def host_pagerank_sql(doc_rel: str = "documents") -> str:
    key = hash60_sql("(a.host || '>' || b.host)")
    ctes = [f"""hosts AS (SELECT DISTINCT source AS host FROM {doc_rel}
          WHERE source IS NOT NULL),
edges AS (SELECT a.host AS src, b.host AS dst
          FROM hosts a JOIN hosts b ON a.host <> b.host
          WHERE ({key}) % {EDGE_MOD} = 0),
outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM edges GROUP BY 1),
indeg AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS indeg
          FROM edges GROUP BY 1),
r0 AS (SELECT host, CAST({SCALE} AS BIGINT) AS rank_int FROM hosts)"""]
    for i in range(N_ITER):
        ctes.append(f"""inc{i} AS (
  SELECT e.dst, SUM(r.rank_int // o.outdeg) AS _in
  FROM edges e JOIN r{i} r ON e.src = r.host
       JOIN outdeg o ON e.src = o.src
  GROUP BY 1),
r{i + 1} AS (
  SELECT h.host,
         CAST({BASE} + ({DAMP_NUM} * COALESCE(i._in, 0)) // {DAMP_DEN}
              AS BIGINT) AS rank_int
  FROM hosts h LEFT JOIN inc{i} i ON h.host = i.dst)""")
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT h.host, CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS outdeg,\n"
            f"       CAST(COALESCE(i.indeg, 0) AS BIGINT) AS indeg,\n"
            f"       r.rank_int\n"
            f"FROM hosts h LEFT JOIN outdeg o ON h.host = o.src\n"
            f"     LEFT JOIN indeg i ON h.host = i.dst\n"
            f"     JOIN r{N_ITER} r ON h.host = r.host")
