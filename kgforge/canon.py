"""Stage 5 — entity canonicalization via connected components.

GraphFrames is unavailable in this sandbox, so CC is implemented natively as
the alternating large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — log-rounds; cited in
PAPERS.md as the ICDE'13 log-rounds variant). Both operators are pure
DataFrame transformations:

  large-star: for each node u, connect every STRICTLY GREATER neighbor v to
              m = min(N(u) ∪ {u})
  small-star: for each node u, connect every neighbor v <= u (and u itself)
              to m = min(N_<=(u) ∪ {u})

Node ids may be of any orderable type: the operators use only min / least /
greatest / xxhash64 / equality, so a component's id is its minimum node in
that type's order. The KG uses prefixed strings ("s:" surface nodes, ordered
lexicographically); near-dup clustering uses bigint doc ids, whose minimum
is the numerically smallest doc.

Each iteration shuffles on the node id; lineage is cut with
``localCheckpoint`` every round (SURVEY §7 "CC at scale"); convergence is
detected by an edge-set checksum (count + xor-ish hash agg) going stable.

``components`` is the one scale-adaptive policy every caller uses (stage
5's surface graph, near-dup clustering): one ``limit(T+1)`` Arrow download
decides the branch. At most ``COLLECT_THRESHOLD`` edges are solved on the
driver by ``cc_unionfind`` (also the pytest oracle); more run the
distributed operator. Either way the answer has one form: a
(node, component) frame of the MOVED nodes only, those whose component is
not the node itself (``moved_frame`` ships the driver's as one Arrow
LocalRelation). A node missing from it is its own component, so every
caller applies it with one left join plus ``coalesce``.
``COLLECT_THRESHOLD`` (2M) is sized by driver memory: at 2M edges the
driver branch grows the driver's Python RSS by about 0.5-0.9 GB
(measurements beside the constant).
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

# Driver union-find ceiling, sized by driver memory. Measured growth of the
# driver's Python RSS: union-find over random int pairs, 55-79 MB at 200k
# pairs and 499-624 MB at 2M; the surface graph's edge builder
# (pipeline._surface_edges) plus union-find over synthetic graph rows,
# 50-99 MB at 200k rows and 471-920 MB at 2M (ranges: id and row shapes).
# Past it, each distributed star round costs seconds of fixed Spark
# overhead where union-find over sf1.0's 286k near-dup pairs takes ~0.2 s.
COLLECT_THRESHOLD = 2_000_000

# Star-round budget of connected_components. Alternating rounds converge in
# O(log n): a 64-node path needs fewer than 10. Read per call.
MAX_ITERATIONS = 20


def _large_star(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> new edges after one large-star round."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nbr_min = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(nbr_min, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> new edges after one small-star round."""
    # orient every edge toward the smaller endpoint: (hi, lo) with lo <= hi
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    nbr_min = oriented.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    joined = oriented.join(nbr_min, "src")
    return (
        joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(joined.select(F.col("src"), F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-insensitive, overflow-free (ANSI-safe) edge-set hash
        F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
    ).collect()[0]
    return int(row["n"] or 0), int(row["h"] or 0)


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> (node, component), node ids of one orderable type
    (e.g. prefixed strings, bigint).

    component is the minimum node id of the node's component in that type's
    order. Deterministic; converges in O(log n) alternating rounds, at most
    ``MAX_ITERATIONS`` of them.

    Each round localCheckpoints its edge set (lineage would otherwise grow
    exponentially through the self-joins); RETIRED rounds' blocks are freed
    eagerly via ``_release_local_checkpoint`` — DataFrame.unpersist cannot
    release localCheckpoint storage, and the SQL listener pins the plans so
    ContextCleaner never reclaims them within a session. The returned
    mapping is itself localCheckpointed and the last iteration state freed,
    so the caller may drop the input edges cache immediately.
    """
    spark = edges.sparkSession
    # Spark 4.1's UnionBase.rewriteConstraints crashes ("key not found:
    # src#N") on self-union-with-swapped-columns plans under constraint
    # propagation; CC is pure column shuffling, so the lost optimization is
    # irrelevant here. Restore the user's setting afterwards.
    cp_key = "spark.sql.constraintPropagation.enabled"
    cp_prev = spark.conf.get(cp_key, "true")
    spark.conf.set(cp_key, "false")
    try:
        cur = (
            edges.where(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
            .localCheckpoint(eager=True)
        )
        prev_sig = None
        converged = False
        for _ in range(MAX_ITERATIONS):
            nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
            sig = _checksum(nxt)
            _release_local_checkpoint(cur)   # retired iteration state
            cur = nxt
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
        if not converged:
            # alternating star rounds converge in O(log n); exhausting the
            # budget means a pathological graph — the mapping may be wrong,
            # never return it silently
            warnings.warn(
                f"connected_components: edge-set checksum did not stabilize "
                f"within MAX_ITERATIONS={MAX_ITERATIONS} rounds; the returned "
                f"mapping may be unconverged — raise canon.MAX_ITERATIONS",
                RuntimeWarning,
                stacklevel=2,
            )
    finally:
        spark.conf.set(cp_key, cp_prev)
    # after convergence every edge points from a node to its component min;
    # nodes that were only ever a component min map to themselves
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        cur.select(F.col("dst").alias("node"))
        .distinct()
        .join(members.select("node"), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    singletons = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(members.select("node").union(roots.select("node")).distinct(),
              "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    out = (members.unionByName(roots).unionByName(singletons)
           .localCheckpoint(eager=True))
    _release_local_checkpoint(cur)
    return out


def components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> (node, component) frame of the nodes whose
    component is not the node itself, ids in the edge columns' type. At
    most ``COLLECT_THRESHOLD`` edges (one Arrow download) run
    ``cc_unionfind`` and come back through ``moved_frame``; more run
    ``connected_components``, whose mapping is localCheckpointed. The
    threshold and both branches are looked up in this module per call, so
    a patched threshold switches the branch and wrappers patched onto it
    see either one."""
    table = edges.limit(COLLECT_THRESHOLD + 1).toArrow()
    if table.num_rows <= COLLECT_THRESHOLD:
        mapping = cc_unionfind(list(zip(table.column("src").to_pylist(),
                                        table.column("dst").to_pylist())))
        return moved_frame(edges.sparkSession, mapping,
                           table.schema.field("src").type)
    # connected_components reads its input twice; persist (not
    # localCheckpoint, which unpersist cannot release). Its mapping is
    # materialized, so the edges and the CC iteration state go here — a
    # lazy plan would pin them in storage for the session lifetime.
    edges = edges.persist()
    try:
        return connected_components(edges).where(
            F.col("node") != F.col("component"))
    finally:
        edges.unpersist(blocking=True)


def moved_frame(spark: SparkSession, mapping: dict,
                id_type: pa.DataType) -> DataFrame:
    """The (node, component) pairs of a driver mapping whose component is
    not the node itself, as one Arrow table of ``id_type`` columns: a
    LocalRelation (no Python RDD), so bigint ids stay exact and an empty
    mapping is an empty frame the optimizer can drop joins against."""
    moved = {n: c for n, c in mapping.items() if n != c}
    return spark.createDataFrame(pa.table({
        "node": pa.array(list(moved), id_type),
        "component": pa.array(list(moved.values()), id_type)}))


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a RETIRED localCheckpoint's blocks. DataFrame.unpersist is a
    no-op for them (RDD-level persistence, invisible to the CacheManager),
    so walk the analyzed plan for LogicalRDD leaves and unpersist their
    RDDs — the frame may be a Project over the checkpoint (e.g. a
    withColumnRenamed view), not the raw LogicalRDD, in which case calling
    ``analyzed().rdd()`` directly would raise and silently leak. The frame
    (and any view sharing its checkpoint) must never be used again
    afterwards. Best-effort: the handle is internal API, and failing to
    free is only a storage leak."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "LogicalRDD":
                node.rdd().unpersist(False)
                continue
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
    except Exception:
        pass


def cc_unionfind(edge_list: list[tuple[str, str]]) -> dict[str, str]:
    """Pure-Python oracle: node -> min-id component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in parent}
