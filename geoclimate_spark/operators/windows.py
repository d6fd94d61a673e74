"""Event-time windowing + sessionization over the ``events`` table.

The reference is strictly batch (SURVEY.md §2.10) — these operators extend
the engine with the time-windowed aggregations a web-crawl pipeline needs
(per-crawl-window rollups of `warc_ts`, per-user sessionization of fetch
logs). Batch-first: tumbling windows are plain integer bucketing (the same
shape as the grid LOD rollup, `GridIndicators.groovy:142-165` —
``bucket = t - t mod W``), sessions are a classic gap-threshold
lag+cumulative-sum window chain. The identical logic runs under Structured
Streaming by swapping the source for ``readStream`` and the bucket column
for ``F.window`` + watermark; kept batch here because the driver's oracle is
batch DuckDB.

Determinism: all bucketing is on exact microsecond bigints
(``unix_micros`` ⇔ DuckDB ``epoch_us``); double ``value`` sums go through
integer cents so partial-aggregation order cannot perturb results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tumbling_window_agg(events: DataFrame, window_sec: int) -> DataFrame:
    """Per (window_start_epoch_sec, category): count + exact value sum."""
    # NTZ→UTC (session tz is UTC)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w_us = window_sec * 1_000_000
    win = ((us - us % F.lit(w_us)) / F.lit(1_000_000)).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    return (events
            .select(win.alias("window_start"), F.col("event_type"),
                    cents.alias("_c"))
            .groupBy("window_start", "event_type")
            .agg(F.count("*").alias("n_events"),
                 (F.sum("_c").cast("double") / 100.0).alias("sum_value")))


def tumbling_window_agg_sql(window_sec: int) -> str:
    w_us = window_sec * 1_000_000
    return f"""SELECT CAST((epoch_us(ts) - epoch_us(ts) % {w_us}) / 1000000 AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events GROUP BY 1, 2"""


def props_rollup(events: DataFrame) -> DataFrame:
    """JSON scalar extraction + rollup (SURVEY §2.9): per category, exact
    integer stats of a JSON field from the ``props`` payload column.
    ``get_json_object`` ⇔ DuckDB ``json_extract_string`` (parity probed)."""
    v = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (events.select(F.col("event_type"), v.alias("_v"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("_v").alias("sum_k"),
                 F.min("_v").alias("min_k"),
                 F.max("_v").alias("max_k")))


def props_rollup_sql() -> str:
    v = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
    return f"""SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM({v}) AS BIGINT) AS sum_k, MIN({v}) AS min_k, MAX({v}) AS max_k
FROM events GROUP BY event_type"""


def sessionize(events: DataFrame, gap_sec: int) -> DataFrame:
    """Gap-threshold sessions per user: a new session starts when the gap to
    the previous event exceeds ``gap_sec``. Deterministic ordering tie-break
    on (ts, event_id). Returns one row per session:
    (user_id, session_id, n_events, start_us, end_us, duration_us).

    session_id = the user's 1-based session ordinal. At scale this is the
    standard one-shuffle pattern: partition by user, in-partition sort —
    Spark's window exec does exactly that; skewed power-users are bounded by
    per-user event counts, not corpus size.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp")).alias("_us")
    order = Window.partitionBy("user_id").orderBy(F.col("_us").asc(),
                                                  F.col("event_id").asc())
    gap_us = gap_sec * 1_000_000
    e = (events.select("user_id", "event_id", us)
         .withColumn("_prev", F.lag("_us").over(order))
         .withColumn("_new", F.when(
             F.col("_prev").isNull()
             | ((F.col("_us") - F.col("_prev")) > gap_us), 1).otherwise(0))
         .withColumn("session_id", F.sum("_new").over(
             order.rowsBetween(Window.unboundedPreceding, 0))))
    return (e.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("_us").alias("start_us"),
                 F.max("_us").alias("end_us"))
            .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
            .withColumn("session_id", F.col("session_id").cast("long")))


def sessionize_sql(gap_sec: int) -> str:
    gap_us = gap_sec * 1_000_000
    return f"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
flagged AS (SELECT *, CASE WHEN LAG(us) OVER w IS NULL
         OR us - LAG(us) OVER w > {gap_us} THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
sess AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM flagged)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events, MIN(us) AS start_us, MAX(us) AS end_us,
       MAX(us) - MIN(us) AS duration_us
FROM sess GROUP BY user_id, session_id"""


def emitted_sessions_sql(gap_sec: int) -> str:
    """Oracle for the STREAMING sessionizer
    (:func:`geoclimate_spark.streaming.stateful.sessionize_stream`): the
    stream emits a session only when a gap CLOSES it, so over a fully
    drained input the emitted rows are exactly the batch sessionization
    minus each user's final (still-open-in-state) session."""
    inner = sessionize_sql(gap_sec)
    return f"""WITH s AS ({inner}),
mx AS (SELECT user_id, MAX(session_id) AS last_sid FROM s GROUP BY user_id)
SELECT s.user_id, s.session_id, s.n_events, s.start_us, s.end_us, s.duration_us
FROM s JOIN mx USING (user_id) WHERE s.session_id < mx.last_sid"""


# ------------------------------------------------------------ funnel analysis
FUNNEL_STAGES = ("view", "click", "signup", "purchase")


def event_funnel(events: DataFrame) -> DataFrame:
    """Ordered funnel conversion over the event stream: per user, stage k
    is REACHED iff the user's FIRST FUNNEL_STAGES[k] event occurs strictly
    AFTER their stage-(k-1) reach time (first-occurrence-ordering semantics —
    the common product-analytics funnel). Output one row per stage:
    (stage_idx, stage, n_users, conv_millis) where conv_millis is the
    exact integer share of stage-0 reachers still present.

    Scale: ONE groupBy(user) pass computes every stage's first-reach time
    via nested conditional MINs (no self-joins, no window over the event
    stream — the k-stage dependency folds into k cascaded aggregates over
    the SAME shuffle); the stage rollup is a ≤k-row aggregate.

    Timestamp ties: "strictly after" — an equal-timestamp next-stage
    event does NOT count (identical rule in both engines; the fixture's
    microsecond timestamps make ties improbable but the rule is pinned)."""
    ts = F.col("ts").cast("timestamp")
    per_user = events.groupBy("user_id").agg(
        *[F.min(F.when(F.col("event_type") == s, ts)).alias(f"_t{i}")
          for i, s in enumerate(FUNNEL_STAGES)])
    reach = per_user
    prev = None
    for i in range(len(FUNNEL_STAGES)):
        cur = F.col(f"_t{i}")
        if prev is None:
            r = cur
        else:
            r = F.when(prev.isNotNull() & cur.isNotNull() & (cur > prev),
                       cur)
        reach = reach.withColumn(f"_r{i}", r)
        prev = F.col(f"_r{i}")
    # pinned rule (the "first-occurrence ordering" funnel): stage k is
    # reached iff the user's FIRST FUNNEL_STAGES[k] event falls strictly after
    # their reach time of stage k-1 — one aggregate pass, no re-scan
    aggs = []
    for i, s in enumerate(FUNNEL_STAGES):
        aggs.append(F.count_if(F.col(f"_r{i}").isNotNull())
                    .cast("long").alias(f"n{i}"))
    counts = reach.agg(*aggs)
    rows = None
    for i, s in enumerate(FUNNEL_STAGES):
        one = counts.select(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(s).alias("stage"),
            F.col(f"n{i}").alias("n_users"),
            F.expr(f"CASE WHEN n0 = 0 THEN 0 "
                   f"ELSE (n{i} * 1000) div n0 END").alias("conv_millis"))
        rows = one if rows is None else rows.unionAll(one)
    return rows


def event_funnel_sql(events_rel: str = "events") -> str:
    mins = ",\n         ".join(
        f"MIN(CASE WHEN event_type = '{s}' THEN ts END) AS _t{i}"
        for i, s in enumerate(FUNNEL_STAGES))
    reach_cols = ["_t0 AS _r0"]
    for i in range(1, len(FUNNEL_STAGES)):
        reach_cols.append(
            f"CASE WHEN _r{i - 1} IS NOT NULL AND _t{i} IS NOT NULL "
            f"AND _t{i} > _r{i - 1} THEN _t{i} END AS _r{i}")
    # cascade: each _r references the previous, so nest the selects
    inner = f"SELECT user_id, {mins} FROM {events_rel} GROUP BY user_id"
    cur = f"SELECT *, _t0 AS _r0 FROM ({inner})"
    for i in range(1, len(FUNNEL_STAGES)):
        cur = (f"SELECT *, CASE WHEN _r{i - 1} IS NOT NULL AND _t{i} IS NOT "
               f"NULL AND _t{i} > _r{i - 1} THEN _t{i} END AS _r{i} "
               f"FROM ({cur})")
    counts = ", ".join(
        f"CAST(count(*) FILTER (_r{i} IS NOT NULL) AS BIGINT) AS n{i}"
        for i in range(len(FUNNEL_STAGES)))
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS stage_idx, '{s}' AS stage, "
        f"n{i} AS n_users, CASE WHEN n0 = 0 THEN 0 "
        f"ELSE (n{i} * 1000) // n0 END AS conv_millis FROM c"
        for i, s in enumerate(FUNNEL_STAGES))
    return f"""WITH c AS (SELECT {counts} FROM ({cur}))
{unions}"""
