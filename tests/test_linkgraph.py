"""ops/linkgraph.py — host graph + fixed-point integer PageRank."""

import contextlib
import io
import random

import pytest
from pyspark.errors import ArithmeticException

from schema_fantasy_spark import scale
from schema_fantasy_spark.ops.linkgraph import host_edges, pagerank

SCALE, NUM, DEN = 10**12, 85, 100


def _py_pagerank(edges, iterations=5, scale=SCALE, num=NUM, den=DEN):
    """Pure-Python replay of the exact integer recurrence (the module
    docstring's formula) — the ground truth the Spark plan must match
    bit-for-bit. NULL endpoints follow SQL join semantics: a NULL node
    has no out-degree (it dangles) and joins no contribution, and an
    edge into NULL counts toward its source's out-degree but its share
    reaches no node."""
    edges = set(edges)
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    deg = {}
    for u, _ in edges:
        if u is not None:
            deg[u] = deg.get(u, 0) + 1
    n = len(nodes)
    if not n:
        return {}
    rank = {v: scale // n for v in nodes}
    for _ in range(iterations):
        dang = sum(rank[v] for v in nodes if v not in deg)
        inc = {v: 0 for v in nodes}
        for u, v in edges:
            if u is not None and v is not None:
                inc[v] += rank[u] // deg[u]
        rank = {
            v: ((den - num) * (scale // n)) // den
            + (num * (inc[v] + dang // n)) // den
            for v in nodes
        }
    return rank


@pytest.fixture(params=["driver", "distributed"])
def path(request, monkeypatch):
    """Run a test on both sides of pagerank's size switch: the driver
    replay (the graph is within the driver budget) and the distributed
    rounds (budget forced to 0)."""
    if request.param == "distributed":
        monkeypatch.setattr(scale, "driver_row_budget", lambda spark: 0)
    return request.param


def _run_spark(spark, path, edges, **kw):
    df = spark.createDataFrame(edges, "src: string, dst: string")
    out = pagerank(df, **kw)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    # the path taken is the one asked for (an empty input plans as an
    # empty LocalTableScan on both: the optimizer prunes the rounds)
    want = "LocalTableScan" if path == "driver" or not edges else "ExistingRDD"
    assert want in buf.getvalue(), buf.getvalue()
    return {r["node"]: r["rank_scaled"] for r in out.collect()}


def _random_graph(seed=11):
    # 20 sources over 26 nodes: h20..h25 only receive (dangling), and
    # sampling with replacement repeats edges
    rnd = random.Random(seed)
    return [(f"h{rnd.randrange(20)}", f"h{rnd.randrange(26)}") for _ in range(80)]


@pytest.mark.parametrize(
    "edges,kw",
    [
        pytest.param(_random_graph(), {}, id="random-dangling-duplicates"),
        pytest.param([], {}, id="empty"),
        pytest.param([("a", "b")], {}, id="single-edge"),
        pytest.param([("a", "b"), ("b", "c"), ("c", "a")], {"iterations": 0}, id="iterations-0"),
        pytest.param(
            [("a", "b"), ("b", None), (None, "a"), ("c", "a"), ("c", None)], {},
            id="null-endpoint",
        ),
    ],
)
def test_pagerank_paths_match_reference(spark, path, edges, kw):
    got = _run_spark(spark, path, edges, **kw)
    assert got == _py_pagerank(edges, **kw)


def test_pagerank_overflow_fails_loudly(spark, path):
    # 99 * (contribution + dangling share) leaves BIGINT at scale 2^62:
    # ANSI fails the distributed path (AQE may wrap the ArithmeticException
    # when two stages fail at once), and the driver replay must too
    edges = [("a", "b"), ("b", None), (None, "a"), ("c", "a")]
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW") as err:
        _run_spark(spark, path, edges, scale=2**62, damp_num=99, damp_den=100)
    if path == "driver":
        assert isinstance(err.value, ArithmeticException)


def test_pagerank_matches_integer_reference(spark, path):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    got = _run_spark(spark, path, edges)
    assert got == _py_pagerank(edges)
    # d (no in-edges) holds only teleport mass — the minimum
    assert got["d"] == min(got.values())


def test_pagerank_dangling_node(spark, path):
    # b has no out-edges: its mass must teleport, not vanish
    edges = [("a", "b"), ("c", "b"), ("b2", "a"), ("b2", "c")]
    got = _run_spark(spark, path, edges)
    want = _py_pagerank(edges)
    assert got == want
    assert got["b"] == max(got.values())


def test_pagerank_duplicate_edges_and_iterations(spark, path):
    # duplicate input edges collapse (distinct) and iterations parameter holds
    edges = [("a", "b"), ("a", "b"), ("b", "a")]
    got = _run_spark(spark, path, edges, iterations=3)
    assert got == _py_pagerank([("a", "b"), ("b", "a")], iterations=3)
    # symmetric 2-cycle: equal ranks
    assert got["a"] == got["b"]


def test_host_edges_from_outlinks(spark):
    rows = [
        ("h1.com", [{"href": "https://h2.com/a", "anchor": "x", "nofollow": False},
                    {"href": "https://H2.com:8080/b", "anchor": "y", "nofollow": False},
                    {"href": "https://h1.com/self", "anchor": "self", "nofollow": False},
                    {"href": "https://paid.com/ad", "anchor": "ad", "nofollow": True}]),
        ("h2.com", [{"href": "http://h3.com/", "anchor": "z", "nofollow": False}]),
        ("h3.com", []),
    ]
    df = spark.createDataFrame(
        rows,
        "host: string, resolved_outlinks: "
        "array<struct<href:string,anchor:string,nofollow:boolean>>",
    )
    got = {(r["src"], r["dst"]) for r in host_edges(df).collect()}
    # nofollow edge (h1 -> paid.com) excluded
    assert got == {("h1.com", "h2.com"), ("h1.com", "h2.com:8080"), ("h2.com", "h3.com")}


def test_pagerank_mass_roughly_conserved(spark, path):
    # each DIV floors, so total mass only ever drips DOWN, boundedly
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("e", "a")]
    got = _run_spark(spark, path, edges)
    total = sum(got.values())
    assert SCALE * 0.999 < total <= SCALE


def test_top_anchors_deterministic_ties(spark):
    from schema_fantasy_spark.ops.linkgraph import top_anchors

    links = spark.createDataFrame(
        [("h1", "zeta"), ("h1", "zeta"), ("h1", "alpha"), ("h1", "alpha"),
         ("h1", "mid"), ("h2", "only")],
        "dst: string, anchor: string",
    )
    got = sorted(
        (r["dst"], r["anchor"], r["cnt"], r["rnk"])
        for r in top_anchors(links, k=2).collect()
    )
    # h1: alpha and zeta tie at 2 — anchor asc breaks the tie
    assert got == [("h1", "alpha", 2, 1), ("h1", "zeta", 2, 2), ("h2", "only", 1, 1)]
