"""Robots-rule URL filtering — longest-prefix-match join per host.

Crawl pipelines decide per URL whether fetching/keeping is allowed by that
host's robots rules: among all rules whose path-prefix matches the URL's
path, the MOST SPECIFIC (longest prefix) wins; ties break to the
lowest-numbered rule; no match falls back to allow (Google's documented
robots.txt evaluation order). The interesting relational shape is the
most-specific-match join: candidates equi-join their host's rule set,
prefix-filter, then a per-URL argmin over ``(-prefix_len, rule_id)`` picks
the winner — deny carve-outs under allows and allow carve-outs under denies
must both resolve correctly.

Reference analogue: the same priority-winner-per-key shape as the ground
layer's first_value window (`/root/reference/geoindicators/src/main/groovy/
org/orbisgis/geoclimate/geoindicators/RsuIndicators.groovy` groundLayer
priority ordering, grafted in operators/overlay.py:218), keyed here by URL
with a data-dependent (prefix length) priority instead of a static one.

Fixture: rules and crawl-candidate paths are both synthesized
deterministically (rules from the host index alone; paths from ``doc_id``
through the shared Lehmer LCG), byte-identical in both engines. Even hosts
carry an explicit root ``/`` allow; odd hosts do not, so the no-match
default-allow branch is exercised. Rule 2 is an allow carve-out UNDER the
rule-1 deny prefix — a longest-prefix implementation bug flips those URLs.

Scale shape (10^12 URLs):
* the rules side is a per-host dim (real robots files: ~10-100 rules/host,
  millions of hosts) — broadcast when it fits, else the join is a plain
  equi-join on host, co-partitioned with the URL table's host key;
* prefix match is ``substr(path, 1, len(prefix)) = prefix`` — pure codegen,
  no regex;
* the winner is ONE groupBy(url) argmin over a struct (map-side combinable
  min, no window sort);
* the verdict rollup is ONE further groupBy on (host, rule) — tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import _A, _M

N_HOSTS = 40


def _r(expr: str) -> str:
    return f"((({expr}) * {_A} + 11) % {_M})"


def _host(idx: str, cast: str) -> str:
    return f"('h' || CAST(({idx}) AS {cast}) || '.example.org')"


# (rule_slot, prefix SQL given host index `h`, action, host condition)
def _rule_rows(cast: str) -> list[tuple[int, str, str, str | None]]:
    return [
        (0, "'/'", "allow", "h % 2 = 0"),                       # root allow
        (1, f"'/p' || CAST(h % 4 AS {cast}) || '/'", "deny", None),
        (2, (f"'/p' || CAST(h % 4 AS {cast}) || '/' "
             f"|| CAST(h % 3 AS {cast}) || '/'"), "allow", None),  # carve-out
        (3, f"'/q' || CAST((h + 1) % 5 AS {cast}) || '/'", "deny", None),
    ]


def synth_rules(spark: SparkSession) -> DataFrame:
    """(host, rule_id, prefix, action): the deterministic per-host rule set.
    rule_id = h * 10 + slot."""
    base = spark.range(N_HOSTS).selectExpr("CAST(id AS BIGINT) AS h")
    parts = []
    for slot, prefix, action, cond in _rule_rows("STRING"):
        df = base.where(cond) if cond else base
        parts.append(df.selectExpr(
            f"{_host('h', 'STRING')} AS host",
            f"CAST(h * 10 + {slot} AS BIGINT) AS rule_id",
            f"{prefix} AS prefix",
            f"'{action}' AS action"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _cand_path(div: str, cast: str) -> str:
    """Path SQL; ``div`` is the engine's integer-division spelling. The
    ``div 97`` decorrelates the segment draw from ``doc_id % 4`` — the raw
    LCG output is congruence-locked to doc_id mod small powers of two, which
    made the rule-2 carve-out unreachable (no p-path ever had both segments
    equal to its host's)."""
    r1 = _r("doc_id")
    r2 = _r(r1)
    return (f"CASE WHEN doc_id % 5 = 0 THEN '/q' || CAST((({r1}) {div} 97) % 5 AS {cast})"
            f"   || '/item' || CAST(doc_id AS {cast})"
            f" ELSE '/p' || CAST((({r1}) {div} 97) % 4 AS {cast}) || '/'"
            f"   || CAST((({r2}) {div} 97) % 3 AS {cast}) || '/page'"
            f"   || CAST(doc_id AS {cast}) END")


def synth_candidates(docs: DataFrame) -> DataFrame:
    """(doc_id, host, path): crawl-frontier URLs derived from doc_id —
    4/5 under /p<a>/<b>/, 1/5 under /q<c>/."""
    return docs.selectExpr(
        "doc_id",
        f"{_host(f'doc_id % {N_HOSTS}', 'STRING')} AS host",
        f"{_cand_path('div', 'STRING')} AS path")


def robots_verdicts(cands: DataFrame, rules: DataFrame) -> DataFrame:
    """(host, rule_id, action, n_urls): per-URL longest-prefix winner, rolled
    up per winning rule. Unmatched URLs land on (rule_id=-1, allow)."""
    # left join keeps every URL; non-matching rule rows contribute NULL to
    # the min, so a URL whose host-rules all miss still lands on the
    # default (min over nothing = NULL -> coalesce below)
    j = cands.join(F.broadcast(rules), "host", "left")
    matched = (F.col("prefix").isNotNull()
               & (F.expr("substr(path, 1, length(prefix))")
                  == F.col("prefix")))
    win = (j.groupBy("doc_id", "host")
           .agg(F.min(F.when(
                matched,
                F.struct((-F.length("prefix")).alias("nl"),
                         F.col("rule_id").alias("rid"),
                         F.col("action").alias("act")))).alias("w")))
    return (win.groupBy(
                "host",
                F.coalesce(F.col("w.rid"), F.lit(-1)).alias("rule_id"),
                F.coalesce(F.col("w.act"), F.lit("allow")).alias("action"))
            .agg(F.count("*").cast("long").alias("n_urls")))


def robots_verdicts_sql() -> str:
    """DuckDB dual: same rules/candidates synthesis, correlated
    longest-prefix winner via arg_min over (-len, rule_id)."""
    rule_parts = []
    for slot, prefix, action, cond in _rule_rows("VARCHAR"):
        where = f"WHERE {cond}" if cond else ""
        rule_parts.append(
            f"SELECT {_host('h', 'VARCHAR')} AS host,"
            f" CAST(h * 10 + {slot} AS BIGINT) AS rule_id,"
            f" {prefix} AS prefix, '{action}' AS action"
            f" FROM (SELECT CAST(range AS BIGINT) AS h"
            f"       FROM range(0, {N_HOSTS})) {where}")
    rules = "\nUNION ALL\n".join(rule_parts)
    return f"""
WITH rules AS (
{rules}),
cands AS (
  SELECT doc_id, {_host(f'doc_id % {N_HOSTS}', 'VARCHAR')} AS host,
         {_cand_path('//', 'VARCHAR')} AS path
  FROM documents),
matched AS (
  SELECT c.doc_id, c.host, r.rule_id, r.action, length(r.prefix) AS plen
  FROM cands c LEFT JOIN rules r
    ON c.host = r.host AND substr(c.path, 1, length(r.prefix)) = r.prefix),
win AS (
  -- scalar composite of Spark's struct key: plen < 10^5, rule_id < 10^5,
  -- so -plen*100000 + rule_id orders identically to (-plen, rule_id)
  SELECT doc_id, host,
         arg_min(rule_id, -plen * 100000 + rule_id) AS rule_id,
         arg_min(action, -plen * 100000 + rule_id) AS action
  FROM matched WHERE rule_id IS NOT NULL GROUP BY doc_id, host),
all_c AS (
  SELECT c.doc_id, c.host,
         COALESCE(w.rule_id, -1) AS rule_id,
         COALESCE(w.action, 'allow') AS action
  FROM (SELECT DISTINCT doc_id, host FROM cands) c
  LEFT JOIN win w USING (doc_id, host))
SELECT host, CAST(rule_id AS BIGINT) AS rule_id, action,
       CAST(COUNT(*) AS BIGINT) AS n_urls
FROM all_c GROUP BY host, rule_id, action"""
