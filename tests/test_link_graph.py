"""Link-graph operators: href extraction, domain edges, PageRank.

The PageRank parity test recomputes the same fixed-iteration weighted
update (with uniform dangling redistribution) in plain Python over the
collected edge list — an independent row-wise twin of the DataFrame
algebra, same stance as linguistjs_spark.oracle for the cascade.
"""

import pytest
from pyspark.sql import functions as F

from linguistjs_spark.operators import link_graph as LG


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode()) for u, h in rows], "url string, html binary"
    )


def test_extract_outlinks_both_quote_styles_and_multiplicity(spark):
    pages = _pages(spark, [
        ("https://a.com/x",
         '<a href="https://b.com/1">x</a> <a href=\'https://c.com/2\'>y</a>'
         '<link href="https://b.com/1">'),
        ("https://d.com/y", "<p>no links</p>"),
    ])
    got = sorted(
        (r.url, r.outlink) for r in LG.extract_outlinks(pages).collect()
    )
    # multiplicity preserved: b.com appears twice for a.com
    assert got == [
        ("https://a.com/x", "https://b.com/1"),
        ("https://a.com/x", "https://b.com/1"),
        ("https://a.com/x", "https://c.com/2"),
    ]


def test_domain_edges_drop_self_and_relative(spark):
    pages = _pages(spark, [
        ("https://a.com/x",
         '<a href="https://a.com/self">s</a><a href="/relative">r</a>'
         '<a href="https://B.com:443/z">b</a><a href="https://b.com/w">b2</a>'),
    ])
    edges = LG.domain_edges(LG.extract_outlinks(pages)).collect()
    assert [(e.src, e.dst, e.w) for e in edges] == [("a.com", "b.com", 2)]


def test_extract_anchors_aligned_captures(spark):
    pages = _pages(spark, [
        ("https://a.com/x",
         '<a href="https://b.com/1">Site B</a> mid '
         '<a class="z" href=\'https://c.com/2\'>C!</a>'
         '<a href="https://d.com/3"><b>markup</b></a>'),  # skipped: [^<]*
    ])
    got = sorted((r.outlink, r.anchor)
                 for r in LG.extract_anchors(pages).collect())
    assert got == [("https://b.com/1", "Site B"), ("https://c.com/2", "C!")]


def test_anchor_text_stats(spark):
    pages = _pages(spark, [
        ("https://a.com/x",
         '<a href="https://t.com/1">one</a><a href="https://t.com/2">four</a>'),
        ("https://b.com/y", '<a href="https://t.com/3">seven77</a>'),
    ])
    rows = LG.anchor_text_stats(LG.extract_anchors(pages)).collect()
    assert [(r.domain, r.n_anchors, r.n_src_domains, r.total_anchor_chars)
            for r in rows] == [("t.com", 3, 2, 14)]


def _python_pagerank(edges, iters=3, damping=0.85):
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    rank = {d: 1.0 / n for d in nodes}
    for _ in range(iters):
        contrib = {d: 0.0 for d in nodes}
        for s, d, w in edges:
            contrib[d] += rank[s] * w / outw[s]
        dang = sum(r for d, r in rank.items() if d not in outw)
        rank = {
            d: (1.0 - damping) / n
            + damping * (contrib[d] + dang / n)
            for d in nodes
        }
    return rank


def test_pagerank_hand_graph_with_dangling(spark):
    # c is dangling (no outlinks); b gets double mass from a's weight-2 edge
    edge_rows = [("a", "b", 2), ("a", "c", 1), ("b", "c", 1)]
    edges = spark.createDataFrame(edge_rows, "src string, dst string, w long")
    got = {r.domain: r["rank"]
           for r in LG.domain_pagerank(edges, iters=3).collect()}
    want = _python_pagerank(edge_rows, iters=3)
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the skew is real: b out-ranks a (weight-2 in-edge vs baseline-only)
    assert got["b"] > got["a"]
    assert got["c"] > got["b"]  # c collects from both


def test_pagerank_plan_no_cartesian(spark):
    # the only nested-loop joins are the intended 1-row broadcast scalars
    # (node count, dangling mass); the edge/rank joins are keyed
    edges = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 1), ("b", "c", 1)],
        "src string, dst string, w long",
    )
    plan = LG.domain_pagerank(edges, iters=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_resumable_pagerank_crash_and_resume(spark, tmp_path):
    # per-iteration checkpointing: crash after 2 of 4 iterations, resume
    # completes 3-4 from the committed iter-2 table, re-run is a no-op,
    # and the final ranks match the one-shot in-memory variant
    from pyspark.sql.types import StructType

    from linguistjs_spark.streaming.resume import (
        LINEAGE_SCHEMA, pagerank_ranks, resumable_pagerank,
    )

    edge_rows = [("a", "b", 2), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1)]
    edges = spark.createDataFrame(edge_rows, "src string, dst string, w long")
    out = str(tmp_path / "pr")

    with pytest.raises(RuntimeError, match="injected"):
        resumable_pagerank(spark, edges, out, iters=4, fail_after=2)
    res = resumable_pagerank(spark, edges, out, iters=4)
    assert res["skipped"] == [1, 2]
    assert res["processed"] == [3, 4]
    again = resumable_pagerank(spark, edges, out, iters=4)
    assert again["processed"] == []
    assert spark.read.parquet(out + "/_lineage").schema == \
        StructType.fromDDL(LINEAGE_SCHEMA)

    got = {r.domain: r["rank"] for r in pagerank_ranks(spark, out, 4).collect()}
    want = {r.domain: r["rank"]
            for r in LG.domain_pagerank(edges, iters=4).collect()}
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-9)


def test_pagerank_deep_iters_lineage_bounded(spark):
    # 8 iterations exercise the localCheckpoint truncation path; ranks
    # still sum to 1 and match the python twin
    edge_rows = [("a", "b", 1), ("b", "a", 1), ("c", "a", 3)]
    edges = spark.createDataFrame(edge_rows, "src string, dst string, w long")
    got = {r.domain: r["rank"]
           for r in LG.domain_pagerank(edges, iters=8).collect()}
    want = _python_pagerank(edge_rows, iters=8)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)
