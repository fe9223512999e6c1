"""Host-level link graph + PageRank — the canonical iterative workload
over crawl outlinks (ops/html_meta.html_outlinks feeds it): which hosts
does the corpus point at, and with what stationary weight?

Scale design (the part that matters at 10^12 pages / 10^8 hosts):

* the graph is HOST-level: page outlinks collapse to distinct
  (src_host, dst_host) edges FIRST — a groupBy on the page side that
  shrinks the iterated dataset by orders of magnitude before any
  iteration runs;
* ONE bounded Arrow collect picks the path
  (``scale.collect_within_budget``): a distinct edge set of at most
  ``scale.driver_row_budget`` rows — 1/8 of ``spark.driver.memory`` over
  a 512-byte per-edge estimate, 2,097,152 edges at 8g — replays the
  recurrence below on the driver in Python integers and returns an
  Arrow-built local relation (``LocalTableScan``: consuming it runs no
  job). A 19-host graph costs 3 jobs this way instead of 55 — under AQE
  every lazy per-iteration checkpoint below still runs its upstream
  shuffle stages when called (CLAUDE.md trap 24);
* past the budget (the 10^8-host case) every iteration is one hash join
  (ranks x edges on src, both sides partitioned by the same key so the
  shuffle is stable round-to-round) plus one partial-aggregated
  groupBy(dst);
* per-iteration lineage is truncated with a LAZY ``localCheckpoint()``
  exactly like ops/dedup.duplicate_clusters' pointer jumping — without
  it the logical plan triples per round (ranks feeds the contribution
  join AND the dangling-mass aggregate) and Catalyst compile time grows
  exponentially in the iteration count;
* iteration count is BOUNDED (default 5) — this is a corpus statistic,
  not a numerical-convergence exercise.

Cross-engine exactness: ranks are BIGINT fixed-point (``scale`` = 1e12)
and every step uses integer division (Spark ``DIV`` == DuckDB ``//`` on
the all-positive values here), so sums are order-independent and the
DuckDB oracle replays the iteration bit-for-bit — the float-discipline
rule (CLAUDE.md) applied to an iterative algorithm. Per iteration, with
``d = damp_num/damp_den`` and N nodes:

    rank'(v) = ((den-num) * (scale DIV N)) DIV den
             + (num * (sum_{u->v} rank(u) DIV outdeg(u)
                       + dangling DIV N)) DIV den

where ``dangling`` is the summed rank of zero-outdegree nodes (their
mass teleports uniformly — the standard dangling-node treatment).
Total mass is not exactly conserved (each DIV floors); that is the
documented price of exactness, identical in both engines. Both paths
share the distributed plan's NULL semantics: a NULL node is always
dangling and receives no contribution; an edge into NULL counts toward
its source's out-degree, but its share is lost. Both fail loudly (ANSI
``ArithmeticException``) when a BIGINT step overflows.

Reference parity: the reference has no graph ops (it validates one
document at a time); this is engine-side corpus analytics over the same
page table, cited as an extension in SURVEY.md §2's pipeline sweep.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from schema_fantasy_spark import scale as _scale

_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def host_of(url):
    """Host of an absolute http(s) URL Column (lowercased, port kept)."""
    return F.lower(F.regexp_extract(url, r"(?i)^https?://([^/?#]+)", 1))


def host_edges(
    pages: DataFrame, src_host_col: str = "host", links_col: str = "resolved_outlinks"
) -> DataFrame:
    """Distinct (src, dst) host edges from a page table carrying resolved
    outlinks (ops/html_meta.with_html_metadata output). Self-edges are
    dropped (they add nothing to inter-host rank flow), and so are
    rel=nofollow links — the publisher explicitly disclaimed the
    endorsement a link-graph edge encodes."""
    followed = F.filter(F.col(links_col), lambda l: ~l["nofollow"])
    e = pages.select(
        F.col(src_host_col).alias("src"),
        F.explode(F.transform(followed, lambda l: host_of(l["href"]))).alias("dst"),
    )
    return e.where((F.col("dst") != "") & (F.col("src") != F.col("dst"))).distinct()


def top_anchors(
    links: DataFrame, k: int = 2, dst_col: str = "dst", anchor_col: str = "anchor"
) -> DataFrame:
    """Top-k anchor texts per destination host — the classic web-corpus
    relevance signal (how the web describes a target). Two-stage shape
    for 10^12 links: groupBy(dst, anchor) FIRST (partial aggregation
    combines map-side, so the window's shuffle moves distinct
    (dst, anchor, cnt) rows, not raw links), then one row_number window
    per dst. Ties break deterministically: count desc, anchor asc —
    cross-engine stable with no float anywhere."""
    from pyspark.sql import Window

    counts = links.groupBy(dst_col, anchor_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(dst_col).orderBy(
        F.col("cnt").desc(), F.col(anchor_col).asc()
    )
    return counts.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def _long(x: int) -> int:
    """``x`` as a BIGINT step result; out of range fails like ANSI does."""
    if not _LONG_MIN <= x <= _LONG_MAX:
        raise ArithmeticException(
            message=f"[ARITHMETIC_OVERFLOW] long overflow in pagerank: {x}"
        )
    return x


def _div(a: int, b: int) -> int:
    """Spark ``DIV``: integer division truncating toward zero."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def _driver_ranks(src, dst, iterations, scale, damp_num, damp_den):
    """The module docstring's recurrence over distinct (src, dst) edge
    lists, with the distributed plan's NULL semantics: a NULL src joins
    no rank (its edges carry nothing), a NULL dst joins back to no node
    (the share it took is lost), and a NULL node has no degree row, so
    it always dangles. Returns (nodes, ranks) in matching order."""
    nodes = list(dict.fromkeys(src + dst))
    deg: dict = {}
    for u in src:
        if u is not None:
            deg[u] = deg.get(u, 0) + 1
    n = len(nodes)
    if not n:
        return [], []
    base = _div(_long(scale), n)
    rank = dict.fromkeys(nodes, base)
    for _ in range(iterations):
        # per round, like the plan's (which never evaluates it at 0 rounds)
        teleport = _div(_long((damp_den - damp_num) * base), damp_den)
        share = {u: _div(rank[u], d) for u, d in deg.items()}
        contrib = dict.fromkeys(nodes, 0)
        for u, v in zip(src, dst):
            if u is not None and v is not None:
                contrib[v] += share[u]
        dang_n = _div(_long(sum(r for v, r in rank.items() if v not in deg)), n)
        rank = {
            v: _long(
                teleport
                + _div(_long(damp_num * _long(_long(c) + dang_n)), damp_den)
            )
            for v, c in contrib.items()
        }
    return nodes, [rank[v] for v in nodes]


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Fixed-point integer PageRank over a distinct (src, dst) edge set;
    returns (node, rank_scaled). See the module docstring for the exact
    per-iteration recurrence, the scale rationale and the size switch
    between the driver replay and the distributed rounds."""
    edges = edges.select("src", "dst").distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    local = _scale.collect_within_budget(edges)
    if local is not None:
        node_list, ranks = _driver_ranks(
            local.column("src").to_pylist(),
            local.column("dst").to_pylist(),
            iterations, scale, damp_num, damp_den,
        )
        schema = T.StructType([
            T.StructField("node", nodes.schema["node"].dataType),
            T.StructField("rank_scaled", T.LongType()),
        ])
        table = pa.table({"node": node_list, "rank_scaled": pa.array(ranks, pa.int64())})
        return edges.sparkSession.createDataFrame(table, schema)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    n1 = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # N is one row — broadcast it onto every node (no driver collect; the
    # whole computation stays one action, materialized by the caller)
    base = nodes.crossJoin(F.broadcast(n1))
    ranks = base.select(
        "node", "n", F.expr(f"CAST({scale} AS BIGINT) DIV n").alias("rank")
    ).localCheckpoint(eager=False)
    teleport = f"(({damp_den - damp_num}) * (CAST({scale} AS BIGINT) DIV n)) DIV {damp_den}"
    for _ in range(iterations):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.expr("rank DIV d").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = (
            ranks.join(deg, "node", "left")
            .where(F.col("d").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dang"))
        )
        ranks = (
            ranks.select("node", "n")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "n",
                F.expr(
                    f"{teleport} + ({damp_num} * (COALESCE(contrib, CAST(0 AS BIGINT))"
                    f" + dang DIV n)) DIV {damp_den}"
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("rank").alias("rank_scaled"))
