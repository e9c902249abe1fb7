"""kgforge.graphrank: PageRank parity vs a pure-Python power iteration,
mass conservation, partition invariance, and the empty/sink edges."""

from __future__ import annotations

import pytest


def _reference_pagerank(edge_list, iters=10, damping=0.85):
    """Pure-Python power iteration of the SAME variant (dedupe, sinks get
    self-loops, fixed rounds) — the oracle for the distributed code."""
    edges = sorted(set(edge_list))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    srcs = {s for s, _ in edges}
    edges += [(n, n) for n in nodes if n not in srcs]
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iters):
        nxt = {v: 0.0 for v in nodes}
        for s, d in edges:
            nxt[d] += r[s] / out[s]
        r = {v: base + damping * nxt[v] for v in nodes}
    return r


EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "c"),
         ("c", "e"),          # e is a sink -> self-loop variant
         ("a", "b")]          # duplicate edge -> deduped


def test_pagerank_matches_reference_power_iteration(spark):
    from kgforge.graphrank import pagerank
    edges = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    want = _reference_pagerank(EDGES)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v
    # mass conservation: self-loop variant keeps total rank at 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the self-loop variant's signature: the sink e (fed by hub c) traps
    # mass and tops the ranking; c is the best NON-sink
    assert got["e"] == max(got.values())
    assert got["c"] == max(v for k, v in got.items() if k != "e")


def test_pagerank_partition_invariant_and_deterministic(spark):
    """Bit-identical output whatever the input partitioning — the property
    the golden digest needs (sorted-fold contribution summation)."""
    from kgforge.graphrank import pagerank
    one = spark.createDataFrame(EDGES, ["src", "dst"]).coalesce(1)
    many = spark.createDataFrame(EDGES, ["src", "dst"]).repartition(7)
    a = {r["node"]: r["rank"] for r in pagerank(one).collect()}
    b = {r["node"]: r["rank"] for r in pagerank(many).collect()}
    assert a == b  # exact float equality, not approx


def test_pagerank_plain_sum_mode_close_but_scale_shaped(spark, monkeypatch):
    """With every node over the fold cap (DET_FOLD_CAP = -1), every node
    takes the hot-row-free plain partial-combine sum, and it agrees with
    the sorted fold to float tolerance."""
    from kgforge import graphrank
    from kgforge.graphrank import pagerank
    edges = spark.createDataFrame(EDGES, ["src", "dst"])
    det = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    monkeypatch.setattr(graphrank, "DET_FOLD_CAP", -1)
    fast = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    for v in det:
        assert fast[v] == pytest.approx(det[v], rel=1e-12)


def test_pagerank_hub_cap_forces_sum_branch(spark, monkeypatch):
    """A node whose in-degree exceeds DET_FOLD_CAP takes the plain-sum
    branch in the same aggregation (no giant collected row): values still
    match the pure-Python oracle to float tolerance, and sub-cap nodes
    keep the bit-stable fold (partition-invariant)."""
    from kgforge import graphrank
    from kgforge.graphrank import pagerank
    monkeypatch.setattr(graphrank, "DET_FOLD_CAP", 4)
    hub_edges = EDGES + [(f"x{i}", "c") for i in range(8)]  # c in-deg > 4
    one = spark.createDataFrame(hub_edges, ["src", "dst"]).coalesce(1)
    many = spark.createDataFrame(hub_edges, ["src", "dst"]).repartition(7)
    got = {r["node"]: r["rank"]
           for r in pagerank(one).collect()}
    want = _reference_pagerank(hub_edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9), v
    # across partitionings the hub's plain sum may move last bits (and
    # they propagate through later rounds), but everything agrees to
    # float tolerance — the trade the cap buys
    b = {r["node"]: r["rank"]
         for r in pagerank(many).collect()}
    for v in want:
        assert got[v] == pytest.approx(b[v], rel=1e-12), v


def test_pagerank_empty_graph(spark):
    from pyspark.sql.types import StringType, StructField, StructType
    from kgforge.graphrank import pagerank
    empty = spark.createDataFrame(
        [], StructType([StructField("src", StringType()),
                        StructField("dst", StringType())]))
    assert pagerank(empty).count() == 0
