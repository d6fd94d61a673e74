"""Hyperlink extraction from html bytes + anchor-text rollup per target host.

The web-graph build every crawl pipeline runs: parse ``<a href>`` elements
out of each page's html, emit (src, dst, anchor-text) edges, and aggregate
per target host — in-link counts, distinct referring pages/hosts, anchor
vocabulary. The rollup feeds ranking (:mod:`.linkrank` synthesizes its host
graph; a real pipeline extracts it HERE) and anchor-text retrieval.

Reference analogue: the same parse-bytes-then-aggregate shape as the OSM
XML way/relation assembly front door
(`/root/reference/osmtools/src/main/groovy/.../OSMTools.groovy` transform
chain — raw markup in, relational edge rows out), applied to html anchors.

Fixture: the driver corpus has no hyperlinks, so
:func:`with_synthetic_links` builds a deterministic page (nav block with
1-3 anchors whose targets/text derive from ``doc_id`` through the same
Lehmer LCG as :mod:`..sources.pages`) and ENCODES IT TO BINARY. The engine
side may consume ONLY those bytes — decode, isolate ``<nav>``,
regexp_extract_all the anchor elements, split href/text, parse the target
host — while the oracle replays the generator arithmetically with no html
anywhere. A parse bug of any kind (greedy regex, attribute-order slip,
host-parse off-by-one) therefore breaks the hash gate.

Scale shape (10^12 pages):
* decode + nav isolation + ``regexp_extract_all`` ride the scan projection
  (whole-stage codegen, no Python);
* explode multiplies rows only by the per-page outdegree (~1-3 here,
  ~50-100 on real pages) BEFORE dropping the html column — the exploded
  relation carries just (src ids, short href/anchor strings);
* the rollup is ONE groupBy(dst_host) with map-side combine; hot hosts
  (every page links to google.com) are exactly the skewed-agg case
  :mod:`.skew` handles — counts partial-aggregate, the two countDistincts
  shuffle (dst_host, value) pairs which AQE splits on skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.pages import _A, _M

N_HOSTS = 40
PAGE_MOD = 997
ANCHOR_MOD = 7

_ANCHOR_WORDS = "('read','more','info','details','home','next','archive')"
ANCHOR_WORDS = ("read", "more", "info", "details", "home", "next", "archive")


def _r(expr: str) -> str:
    return f"((({expr}) * {_A} + 11) % {_M})"


def _host_sql(idx_expr: str, cast: str) -> str:
    return f"('h' || CAST(({idx_expr}) AS {cast}) || '.example.org')"


def _link_sql(r_expr: str, cast: str) -> tuple[str, str]:
    """(href, anchor) SQL for one synthesized link given its LCG draw."""
    host = _host_sql(f"({r_expr}) % {N_HOSTS}", cast)
    href = (f"('https://' || 'h' || CAST(({r_expr}) % {N_HOSTS} AS {cast})"
            f" || '.example.org/p/' || CAST(({r_expr}) % {PAGE_MOD} AS {cast}))")
    anchor = (f"(CASE ({r_expr}) % {ANCHOR_MOD} "
              + " ".join(f"WHEN {i} THEN '{w}'"
                         for i, w in enumerate(ANCHOR_WORDS[:-1]))
              + f" ELSE '{ANCHOR_WORDS[-1]}' END || ' ' "
              f"|| CAST(({r_expr}) % 5 AS {cast}))")
    return href, anchor


def _links_rows_duck(doc_rel: str) -> str:
    """DuckDB CTE body: (doc_id, src_host, dst_host, anchor) rows replaying
    the generator — link 0 always, link 1 when doc_id%2=0, link 2 when
    doc_id%3=0."""
    r1 = _r("doc_id")
    r2 = _r(r1)
    r3 = _r(r2)
    src = _host_sql(f"doc_id % {N_HOSTS}", "VARCHAR")
    parts = []
    for j, (r, cond) in enumerate(
            [(r1, None), (r2, "doc_id % 2 = 0"), (r3, "doc_id % 3 = 0")]):
        href, anchor = _link_sql(r, "VARCHAR")
        dst_host = _host_sql(f"({r}) % {N_HOSTS}", "VARCHAR")
        where = f"WHERE {cond}" if cond else ""
        parts.append(
            f"SELECT doc_id, {src} AS src_host, {dst_host} AS dst_host,\n"
            f"       {anchor} AS anchor FROM {doc_rel} {where}")
    return "\nUNION ALL\n".join(parts)


def with_synthetic_links(docs: DataFrame) -> DataFrame:
    """documents + ``html`` (binary): a deterministic page whose ``<nav>``
    holds 1-3 anchors and whose ``<title>`` is the page's own URL (so the
    engine can recover the source host from the bytes too)."""
    r1 = _r("doc_id")
    r2 = _r(r1)
    r3 = _r(r2)
    own = (f"'https://' || {_host_sql(f'doc_id % {N_HOSTS}', 'STRING')}"
           f" || '/d/' || CAST(doc_id AS STRING)")

    def a(r: str) -> str:
        href, anchor = _link_sql(r, "STRING")
        return f"'<a href=\"' || {href} || '\">' || {anchor} || '</a>'"

    html = (f"'<html><head><title>' || {own} || '</title></head><body><nav>'"
            f" || {a(r1)}"
            f" || CASE WHEN doc_id % 2 = 0 THEN {a(r2)} ELSE '' END"
            f" || CASE WHEN doc_id % 3 = 0 THEN {a(r3)} ELSE '' END"
            f" || '</nav><main>' || text || '</main></body></html>'")
    return docs.withColumn("html", F.encode(F.expr(html), "UTF-8"))


def extract_links(pages: DataFrame) -> DataFrame:
    """(src_id, src_host, dst_host, anchor) parsed from the html bytes only.
    Pure codegen: decode -> isolate <title>/<nav> -> regexp_extract_all the
    anchor elements -> explode -> split href/text -> host from href."""
    s = F.decode(F.col("html"), "UTF-8")
    own = F.substring_index(
        F.substring_index(s, "<title>", -1), "</title>", 1)
    src_host = F.substring_index(F.substring_index(own, "://", -1), "/", 1)
    nav = F.substring_index(F.substring_index(s, "<nav>", -1), "</nav>", 1)
    elems = F.regexp_extract_all(
        nav, F.lit('<a href="[^"]*">[^<]*</a>'), F.lit(0))
    exploded = (pages.select(F.col("doc_id").alias("src_id"),
                             src_host.alias("src_host"),
                             F.explode(elems).alias("a")))
    href = F.regexp_extract(F.col("a"), 'href="([^"]*)"', 1)
    anchor = F.regexp_extract(F.col("a"), ">([^<]*)</a>", 1)
    dst_host = F.substring_index(F.substring_index(href, "://", -1), "/", 1)
    return exploded.select("src_id", "src_host",
                           dst_host.alias("dst_host"),
                           anchor.alias("anchor"))


def anchor_rollup(links: DataFrame) -> DataFrame:
    """Per target host: in-link count, distinct referring pages and hosts,
    anchor vocabulary size and its lexicographic minimum (a deterministic
    sample). ONE groupBy; counts partial-aggregate map-side."""
    return (links.groupBy("dst_host")
            .agg(F.count("*").cast("long").alias("n_inlinks"),
                 F.countDistinct("src_id").cast("long").alias("n_src_pages"),
                 F.countDistinct("src_host").cast("long").alias("n_src_hosts"),
                 F.countDistinct("anchor").cast("long")
                 .alias("n_anchor_variants"),
                 F.min("anchor").alias("min_anchor")))


def anchor_rollup_sql() -> str:
    """DuckDB dual: replay the link generator arithmetically (no html), same
    rollup."""
    return f"""
WITH links AS (
{_links_rows_duck('documents')})
SELECT dst_host,
       CAST(COUNT(*) AS BIGINT) AS n_inlinks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_src_pages,
       CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts,
       CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_anchor_variants,
       MIN(anchor) AS min_anchor
FROM links
GROUP BY dst_host"""
