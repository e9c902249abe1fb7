"""Connected components: Spark large-star/small-star vs pure union-find."""

from __future__ import annotations

import inspect
import random

import pytest

from kgforge import canon
from kgforge.canon import cc_unionfind, connected_components


def _check(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    want = cc_unionfind(edges)
    assert got == want


def test_cc_simple_chain(spark):
    _check(spark, [("a", "b"), ("b", "c"), ("c", "d")])


def test_cc_two_components_and_self_loop(spark):
    _check(spark, [("a", "b"), ("x", "y"), ("p", "p"), ("m", "n"), ("n", "o")])


def test_cc_bigint_ids_use_numeric_order(spark):
    # lexicographic minimum of {9, 10, 100} is 10; the numeric one is 9
    _check(spark, [(9, 10), (10, 100), (2, 30)])


def test_cc_star_and_cycle(spark):
    _check(spark, [("h", "a"), ("h", "b"), ("h", "c"),
                   ("c1", "c2"), ("c2", "c3"), ("c3", "c1")])


def test_cc_entity_prefix_wins(spark):
    # 'e:' < 'o:' < 's:' — component canonical is the entity node
    edges = [("o:occ1", "e:PER_1"), ("o:occ2", "e:PER_1"), ("o:occ3", "s:bob"),
             ("s:bob", "s:bob smith")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got["o:occ1"] == "e:PER_1"
    assert got["o:occ2"] == "e:PER_1"
    assert got["o:occ3"] == got["s:bob smith"] == "o:occ3"


def test_cc_random_graphs_match_unionfind(spark):
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    _check(spark, edges)


def test_cc_long_path_log_rounds(spark, monkeypatch):
    # a 64-node path converges well within 10 rounds (log-rounds claim)
    monkeypatch.setattr(canon, "MAX_ITERATIONS", 10)
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(63)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["component"] for r in
           connected_components(df).collect()}
    assert set(got.values()) == {"p00"}
    assert len(got) == 64


def test_cc_warns_when_round_budget_runs_out(spark, monkeypatch):
    """One star round cannot settle a 64-node path: the edge-set checksum
    never repeats, so the call must say its mapping may be unconverged."""
    monkeypatch.setattr(canon, "MAX_ITERATIONS", 1)
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(63)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.warns(RuntimeWarning, match="MAX_ITERATIONS=1 rounds"):
        connected_components(df)


def test_connected_components_takes_only_edges():
    """The round budget is canon.MAX_ITERATIONS and the mapping is always
    materialized: no caller-side switch is left on the signature."""
    assert list(inspect.signature(connected_components).parameters) == ["edges"]


def _moved(mapping: dict) -> dict:
    """The nodes of a union-find mapping whose component is another node."""
    return {n: c for n, c in mapping.items() if n != c}


def _surface_oracle(resolved) -> dict:
    """Union-find's moved surfaces over the surface graph of ``resolved``."""
    from kgforge.pipeline import _graph_rows, _surface_edges
    return _moved(cc_unionfind(_surface_edges(_graph_rows(resolved).toArrow())))


def test_release_local_checkpoint_frees_blocks_through_projections(spark):
    """ADVICE r2: surface_components returns the checkpointed frame wrapped
    in withColumnRenamed, so the release helper must find the LogicalRDD
    through Project nodes — releasing via analyzed().rdd() directly was a
    silent no-op and the CC mapping leaked storage every at-scale run."""
    from kgforge.canon import _release_local_checkpoint

    def persisted_rdd_ids():
        jsc = spark.sparkContext._jsc.sc()
        return {info.id() for info in jsc.getRDDStorageInfo()}

    for wrap in (lambda df: df,                                  # raw leaf
                 lambda df: df.withColumnRenamed("id", "x"),     # Project
                 lambda df: df.withColumnRenamed("id", "x")
                             .where("x >= 0").select("x")):      # deeper tree
        raw = spark.range(1000).localCheckpoint(eager=True)
        rid = raw._jdf.queryExecution().analyzed().rdd().id()
        assert rid in persisted_rdd_ids()
        _release_local_checkpoint(wrap(raw))
        assert rid not in persisted_rdd_ids()


def test_components_picks_branch_at_threshold(spark, monkeypatch):
    """At exactly T edges canon.components runs cc_unionfind, at T+1 the
    distributed operator; both answer with a (node, component) frame of
    exactly union-find's moved nodes, in the edge columns' type. Zero edges
    give an empty frame of that type, and the distributed call leaves only
    its materialized mapping cached."""
    from kgforge import canon
    from kgforge.canon import _release_local_checkpoint, components
    from perfbench.workloads import canon_metrics, watch_components

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def typed(frame):
        return [(f.name, f.dataType) for f in frame.schema]

    for edges, schema in (([("b", "a"), ("c", "d"), ("d", "b")],
                           "src string, dst string"),
                          ([(30, 4), (9, 10), (10, 100)],
                           "src bigint, dst bigint")):
        df = spark.createDataFrame(edges, schema)
        want = _moved(cc_unionfind(edges))
        assert want
        for distributed in (False, True):
            monkeypatch.setattr(canon, "COLLECT_THRESHOLD",
                                len(edges) - distributed)
            before = n_cached()
            with watch_components() as seen:
                frame = components(df)
            assert canon_metrics(seen)["canon.distributed"] == distributed
            assert n_cached() - before <= 1
            assert typed(frame) == typed(df.toDF("node", "component"))
            rows = frame.collect()
            assert {r["node"]: r["component"] for r in rows} == want
            assert len(rows) == len(want)
            assert {type(v) for r in rows for v in r} == {type(edges[0][0])}
            _release_local_checkpoint(frame)
    monkeypatch.undo()
    for schema in ("src string, dst string", "src bigint, dst bigint"):
        empty = spark.createDataFrame([], schema)
        frame = components(empty)
        assert typed(frame) == typed(empty.toDF("node", "component"))
        assert frame.count() == 0


def test_watch_components_sees_distributed_surface_graph(spark, monkeypatch):
    """perfbench's trace spies on canon's module globals; a forced-
    distributed surface_components call must still show up there."""
    from kgforge import canon, schemas
    from kgforge.canon import _release_local_checkpoint
    from kgforge.pipeline import surface_components
    from perfbench.workloads import canon_metrics, watch_components

    resolved = spark.createDataFrame([
        ("https://t/a", 0, "s", "Orla Quizzle", "PER", 0, 2, "orla quizzle", None),
        ("https://t/a", 1, "s", "Quizzle", "PER", 0, 1, "quizzle", None),
    ], schema=schemas.RESOLVED)
    monkeypatch.setattr(canon, "COLLECT_THRESHOLD", 0)
    with watch_components() as seen:
        moved = surface_components(resolved, resolved)
    assert canon_metrics(seen)["canon.distributed"] == 1
    want = _surface_oracle(resolved)
    assert want == {"s:quizzle": "s:orla quizzle"}
    assert {r["node"]: r["component"] for r in moved.collect()} == want
    _release_local_checkpoint(moved)
