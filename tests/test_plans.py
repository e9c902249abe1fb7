"""Physical-plan assertions: the optimizations we claim must be visible in
``explain`` output — pushdown, column pruning, broadcast joins, no
unnecessary shuffles (SURVEY §4)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_parquet_scan(spark):
    """The doc_id bound must reach the parquet scan. Asserted on the
    LessThan only: the IsNotNull companion is INFERRED by constraint
    propagation, which q_ngram_jaccard_pairs deliberately leaves disabled
    on the session (documented there) — so its presence depends on test
    order, while the user-written predicate must push regardless."""
    import re
    from kgforge.queries import q_pos_tags
    plan = _plan(q_pos_tags(spark, SF))
    assert re.search(r"PushedFilters: \[.*LessThan\(doc_id,50\)", plan), plan


def test_column_pruning_on_documents(spark):
    from kgforge.queries import q_doc_token_count
    plan = _plan(q_doc_token_count(spark, SF))
    # scan must read only doc_id + text, never lang/source/n_chars
    scan_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in scan_line and "doc_id" in scan_line
    assert "source" not in scan_line and "n_chars" not in scan_line


def test_broadcast_join_strategy(spark):
    from kgforge.queries import q_broadcast_join
    plan = _plan(q_broadcast_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lang_filter_before_python_stage(spark, tiny_pages_df):
    from kgforge.pipeline import stage_extract_sentences
    plan = _plan(stage_extract_sentences(tiny_pages_df))
    # the language filter must sit below (before) the Python eval
    ix_filter = plan.find("Filter")
    ix_py = plan.find("MapInPandas")
    assert 0 <= ix_filter and 0 <= ix_py
    assert "lang" in plan


def test_link_stage_has_no_shuffle(spark, tiny_pages_df, alias_df):
    """Entity linking must not shuffle the mention stream: no Exchange above
    the NER output in the resolved plan (broadcast-dict map-side design),
    in the per-mention stage_link and in the fused eval's resolution."""
    from kgforge.config import PipelineConfig
    from kgforge.pipeline import (stage_extract_sentences, stage_link,
                                  stage_mentions, stage_ner_score)
    cfg = PipelineConfig()
    sent_ents = stage_ner_score(stage_extract_sentences(tiny_pages_df), cfg)
    resolved = stage_link(stage_mentions(sent_ents), alias_df, cfg)
    plan = _plan(resolved)
    assert "Exchange" not in plan, plan
    fused = stage_mentions(stage_ner_score(
        stage_extract_sentences(tiny_pages_df), cfg, alias_df))
    plan = _plan(fused)
    assert "Exchange" not in plan, plan


def test_gen_query_filter_pushed_to_scan(spark):
    """The generation queries' doc_id bound must reach the parquet scan —
    decoding is expensive, scanning is not the place to pay for it.
    (LessThan only: the inferred IsNotNull is order-dependent, see
    test_filter_pushdown_to_parquet_scan.)"""
    import re
    from kgforge.queries import q_gen_greedy
    plan = _plan(q_gen_greedy(spark, SF))
    assert re.search(r"PushedFilters: \[.*LessThan\(doc_id,200\)", plan), plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located joins via bucketing (SURVEY §4 'Shuffle/partitioning'):
    two tables bucketed+sorted on the join key must sort-merge join with
    ZERO Exchange — the 100 TB recipe for repeated big-big joins (write
    once bucketed, join many times shuffle-free)."""
    import re
    from pyspark.sql import functions as F

    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    for name, df in (("bkt_a", a), ("bkt_b", b)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, "k").sortBy("k")
         .option("path", str(tmp_path / name))
         .saveAsTable(name))
    # force the sort-merge path: tiny test tables would otherwise broadcast
    # and the zero-Exchange assertion would hold vacuously
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def _pipeline_pages(spark, lo: int, hi: int):
    """Synthetic pages [lo, hi) in a frame of its own, which no earlier
    test has cached."""
    from kgforge import schemas
    from kgforge.synth import gen_pages
    pages, _ = gen_pages(lo, hi)
    return spark.createDataFrame(pages, schema=schemas.PAGES)


def test_pipeline_has_single_bigdata_exchange(spark, alias_df):
    """The production model chain (pages -> extract+sentences -> length
    repartition -> fused NER/candidates/NLI) must contain exactly ONE
    Exchange, the length repartition, and exactly TWO Python evals: the
    fused stages, whose output columns (``bucket``, ``cands``) are what
    per-layer attribution keys on.

    Uses its own input DataFrame: the session-scoped fixture's plan may be
    substituted by a cached (persisted) subtree from earlier e2e tests,
    which changes the physical plan under test."""
    from kgforge.config import PipelineConfig
    from kgforge.pipeline import (repartition_by_length,
                                  stage_extract_sentences, stage_ner_score)
    pages_df = _pipeline_pages(spark, 500, 520)
    cfg = PipelineConfig()
    scored = stage_ner_score(
        repartition_by_length(stage_extract_sentences(pages_df), cfg), cfg)
    import re
    plan = _plan(scored)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    # node details: "Arguments: gen(<inputs>)#n, [<outputs>], <flag>"
    outputs = re.findall(
        r"^\(\d+\) MapInPandas\n.*\nArguments: .*, \[([^\]]*)\], \w+$",
        plan, re.M)
    cols = [{c.split("#")[0] for c in out.split(", ")} for out in outputs]
    assert [("bucket" in c, "cands" in c) for c in cols] == [
        (True, False), (False, True)], plan


def test_in_memory_run_has_two_python_evals(spark, alias_df):
    """An in-memory run_pipeline runs exactly two Python evals, the fused
    stages whose outputs hold ``bucket`` and ``cands``: linking and stage 5
    run in the JVM. Read from the plan graphs of every SQL execution the
    run made. The run uses at most 6 Spark jobs (it took 8 with a linking
    and a stage-5 eval, then 7 while the alias dictionary was a Python RDD
    whose collect was a job of its own; as a LocalRelation it is none)."""
    import re
    from kgforge.config import PipelineConfig
    from kgforge.pipeline import run_pipeline

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        it = store.executionsList().iterator()
        last = -1
        while it.hasNext():
            last = max(last, it.next().executionId())
        return last

    pages_df = _pipeline_pages(spark, 520, 560)
    first = last_execution() + 1
    sc.setJobGroup("two-python-evals", "one in-memory run_pipeline")
    try:
        triples = run_pipeline(spark, pages_df, alias_df, PipelineConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("two-python-evals")) <= 6
    assert triples.count() > 0

    evals = set()
    for eid in range(first, last_execution() + 1):
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() == "MapInPandas":
                # desc: "MapInPandas gen(<inputs>)#n, [<outputs>], <flag>"
                out = re.search(r", \[([^\]]*)\], \w+$", node.desc()).group(1)
                evals.add(frozenset(c.split("#")[0] for c in out.split(", ")))
    assert len(evals) == 2, evals
    assert sorted(("bucket" in c, "cands" in c) for c in evals) == [
        (False, True), (True, False)], evals


def test_stage_triples_without_moved_surface_has_no_join(spark, alias_df):
    """Stage 5 joins only surfaces whose component is another surface.
    When none moved, the joined frame is an empty LocalRelation and the
    optimizer drops both joins; a moved surface brings them back."""
    import pyarrow as pa

    from kgforge.canon import moved_frame
    from kgforge.config import PipelineConfig
    from kgforge.pipeline import (stage_extract_sentences, stage_ner_score,
                                  stage_triples)
    cfg = PipelineConfig()
    ner = stage_ner_score(
        stage_extract_sentences(_pipeline_pages(spark, 560, 570)), cfg, alias_df)

    def optimized(mapping) -> str:
        moved = moved_frame(spark, mapping, pa.string())
        return stage_triples(ner, moved)._jdf.queryExecution().optimizedPlan().toString()

    for mapping in ({}, {"s:quizzle": "s:quizzle"}):
        assert "Join" not in optimized(mapping), mapping
    assert "Join" in optimized({"s:quizzle": "s:orla quizzle"})


def test_text_analysis_queries_have_no_shuffle(spark):
    """lang_id and kgram_fingerprint are pure per-row projections — at
    100 TB they must stay map-side (zero Exchange, whole-stage codegen)."""
    from kgforge.queries import q_kgram_fingerprint, q_lang_id
    for q in (q_lang_id, q_kgram_fingerprint):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan, plan
        # all JVM-side: no Python eval anywhere in the plan (the
        # higher-order-function projections themselves are interpreted,
        # which is why each non-cheap producer must appear exactly once —
        # pinned by the two-step select shape)
        assert "MapInPandas" not in plan and "EvalPython" not in plan


def test_ivf_probe_join_broadcasts_query_side(spark):
    """IVF candidate generation: the exploded query-probe side is tiny
    (EMB_QUERIES * IVF_PROBE rows) and must broadcast — a sort-merge join here
    would shuffle the whole corpus by centroid_id for nothing."""
    from kgforge.queries import q_embedding_ivf_topk
    plan = _plan(q_embedding_ivf_topk(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the query side must be its own pushdown-filtered scan + tiny Arrow
    # pass — a vec_id filter cannot push through MapInPandas, so a shared
    # full-corpus assignment would run TWICE (once per join side)
    assert "LessThan(vec_id,5)" in plan, plan


def test_fanout_guards_no_op_on_multi_file_input(spark, tmp_path):
    """Written as 8 files, a scan already has the session's parallelism:
    _fanout and _fanout_by hand back the very frame they got, and
    embedding_topk over such an embeddings table runs no round-robin
    exchange. A single-file scan is one partition, and both guards
    repartition it to the session's parallelism."""
    from kgforge.queries import _fanout, _fanout_by, q_embedding_topk
    want = spark.sparkContext.defaultParallelism
    for table in ("documents", "embeddings"):
        (spark.read.parquet(f"{SF}/{table}.parquet").repartition(8)
         .write.parquet(str(tmp_path / f"{table}.parquet")))
    many = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert many.rdd.getNumPartitions() >= want
    assert _fanout(many) is many
    assert _fanout_by(many, "doc_id") is many
    one = spark.read.parquet(f"{SF}/documents.parquet")
    assert one.rdd.getNumPartitions() == 1
    assert _fanout(one).rdd.getNumPartitions() == want
    assert _fanout_by(one, "doc_id").rdd.getNumPartitions() >= want

    def executed(df):
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    assert "RoundRobinPartitioning" in executed(q_embedding_topk(spark, SF))
    plan = executed(q_embedding_topk(spark, str(tmp_path)))
    assert "RoundRobinPartitioning" not in plan, plan


def test_pivot_is_single_shuffle(spark):
    """Wide-format per-user counts must be ONE agg shuffle (conditional
    aggregation), not DataFrame.pivot()'s groupBy(user,type)+pivotfirst
    two-shuffle plan."""
    import re
    from kgforge.queries import q_pivot_event_counts
    plan = _plan(q_pivot_event_counts(spark, SF))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan


def test_stratified_sample_is_map_side_only(spark):
    """Deterministic sampling is a filter on the scan: zero Exchange."""
    from kgforge.queries import q_stratified_sample
    plan = _plan(q_stratified_sample(spark, SF))
    assert "Exchange" not in plan, plan


def test_exact_median_rank_parallelism_exceeds_group_count(spark):
    """Two-phase rank: the heavy sort must run at the RANGE partition count
    (P=32 here), not one-task-per-group (~5 event types) as a
    Window.partitionBy(group) plan would. The offsets join back must be a
    broadcast, and at runtime AQE must reuse the range exchange between the
    counts branch and the rank branch so events is scanned+shuffled once."""
    import re
    from kgforge.queries import q_exact_median
    df = q_exact_median(spark, SF)
    plan = _plan(df)
    parts = [int(m) for m in
             re.findall(r"rangepartitioning\([^)]*?(\d+)\)", plan)]
    assert parts and min(parts) >= 16, plan       # P >> #groups (5)
    assert "BroadcastHashJoin" in plan, plan      # tiny offsets, not SMJ
    assert "SortMergeJoin" not in plan, plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final       # one physical range shuffle


def test_ngram_jaccard_pairs_single_scan_single_shuffle(spark):
    """The fused pair query with the hot-band guard: band computed inline
    with the word set, one Exchange feeds the window band-size count, and
    on non-adversarial data (no band over the cap) the runtime plan must
    collapse to exactly the fused shape — AQE propagates the empty hot
    branch away, leaving ONE documents scan, ONE shuffle stage, pairs via
    posexplode+slice, and NO join operator. Assert on executedPlan AFTER a
    collect: the guard costs zero when it does not fire."""
    import re
    from kgforge.queries import q_ngram_jaccard_pairs
    df = q_ngram_jaccard_pairs(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final_main = final.split("== Initial Plan ==")[0]
    assert len(re.findall(r"FileScan parquet", final_main)) == 1, final_main
    assert len(re.findall(r"Exchange hashpartitioning", final_main)) == 1, \
        final_main
    assert "Join" not in final_main, final_main
    assert "posexplode" in final_main, final_main


def test_ngram_jaccard_forced_hot_band_value_parity(spark, monkeypatch):
    """Force every band through the self-join spill branch (cap=1): the
    pair set and jaccard values must be identical to the fused branch —
    the guard is a row-size bound, never a semantic change."""
    from kgforge import queries
    from kgforge.queries import q_ngram_jaccard_pairs
    base = sorted((r.doc_a, r.doc_b, round(r.jaccard, 12))
                  for r in q_ngram_jaccard_pairs(spark, SF).collect())
    monkeypatch.setattr(queries, "NGRAM_HOT_BAND_CAP", 1)
    forced = q_ngram_jaccard_pairs(spark, SF)
    got = sorted((r.doc_a, r.doc_b, round(r.jaccard, 12))
                 for r in forced.collect())
    assert base and got == base
    # and the forced plan really is the join branch (no bucket collect)
    final = forced._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in final or "BroadcastHashJoin" in final, final


def test_funnel_is_single_scan(spark):
    """One-pass funnel: a single events scan + one user-keyed agg shuffle
    (plus the single-row final agg); the stage chain resolves map-side."""
    import re
    from kgforge.queries import q_funnel_conversion
    plan = _plan(q_funnel_conversion(spark, SF))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2, plan
    assert "Join" not in plan, plan


def test_asof_join_single_scan_single_shuffle(spark):
    """The as-of join must be ONE union-window pass: one events scan with
    the event_type filter pushed down, one Exchange (user_id window), and
    NO join operator — the naive inequality join would plan as a
    broadcast-nested-loop."""
    import re
    from kgforge.queries import q_asof_join
    plan = _plan(q_asof_join(spark, SF))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "Join" not in plan, plan
    assert "PushedFilters" in plan and "event_type" in plan


def test_exact_quantiles_shares_median_rank_shape(spark):
    """exact_quantiles rides the same two-phase rank as exact_median: P-way
    range partitioning, broadcast offsets join, runtime exchange reuse."""
    import re
    from kgforge.queries import q_exact_quantiles
    df = q_exact_quantiles(spark, SF)
    plan = _plan(df)
    parts = [int(m) for m in
             re.findall(r"rangepartitioning\([^)]*?(\d+)\)", plan)]
    assert parts and min(parts) >= 16, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_neardup_driver_branch_maps_without_shuffle(spark):
    """Under the collect threshold the moved docs come back as a
    LocalRelation that the doc_id left join broadcasts: no shuffle of the
    corpus and no Python eval in the returned frame's plan (the pair-graph
    jobs ran eagerly)."""
    import re

    from kgforge.queries import q_neardup_clusters
    plan = _plan(q_neardup_clusters(spark, SF))
    assert "hashpartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"BroadcastExchange \(\d+\)\n\s*\+- LocalTableScan", plan), plan


def test_doc_repetition_is_map_side_only(spark):
    """The bigram mode is a sorted-array fold (F.aggregate), not an
    explode+groupBy+window — repetition stats must be ZERO Exchange."""
    from kgforge.queries import q_doc_repetition
    plan = _plan(q_doc_repetition(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_contamination_benchmark_side_broadcasts(spark):
    """Decontamination joins the corpus against the (small) benchmark
    shingle set: the benchmark side must broadcast — the corpus never
    shuffles for the join, only for the per-doc count agg."""
    import re
    from kgforge.queries import q_contamination_flags
    plan = _plan(q_contamination_flags(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # benchmark pruning reaches its scan (doc_id < 20 pushed down)
    assert "LessThan(doc_id,20)" in plan, plan


def test_tfidf_df_by_partial_agg_join_no_word_window(spark):
    """TF-IDF top-terms: df must come from ``tf.groupBy(word).count()`` +
    a join back — NEVER a ``Window.partitionBy(word)`` (the r5 shape),
    which co-locates every (doc, word) row of a Zipf-head word in ONE
    task that AQE cannot split (skew handling covers joins only). Pinned:
    the ONLY Window node is the per-doc rank (with its PARTIAL
    WindowGroupLimit below the doc_id Exchange); df partial-aggregates
    map-side; the corpus is scanned once (the tf exchange is reused
    between the probe branch and the df branch); at this scale the tiny
    df side broadcasts, so corpus pairs are never reshuffled by word."""
    import re
    from kgforge.queries import q_tfidf_topterms
    df = q_tfidf_topterms(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final_main = final.split("== Initial Plan ==")[0]
    # exactly one Window (the per-doc rank) — no word-partitioned window
    assert len(re.findall(r"\bWindow\b", final_main)) == 1, final_main
    assert "BroadcastHashJoin" in final_main, final_main
    assert "SortMergeJoin" not in final_main, final_main
    assert "partial_count" in final_main, final_main
    # one corpus scan: the df branch rides a reused tf exchange
    assert len(re.findall(r"FileScan parquet", final_main)) == 1, final_main
    assert "ReusedExchange" in final_main, final_main
    # tree prints top-down (execution bottom-up): the Partial limit must
    # sit BELOW the doc_id Exchange, i.e. later in the printed string
    ix_partial = final_main.find("row_number(), 3, Partial")
    ix_doc_exchange = final_main.find("Exchange hashpartitioning(doc_id")
    assert 0 <= ix_doc_exchange < ix_partial, final_main


def test_pack_manifest_single_corpus_shuffle_reused(spark):
    """The packing manifest's global prefix sum must be the distributed-
    scan shape: the corpus is scanned ONCE and range-shuffled ONCE — the
    per-partition totals branch rides an AQE ReusedExchange of the same
    range exchange (never a second scan/shuffle), reduces map-side
    (partial_sum), and only the tiny P-row offsets frame passes through
    the SinglePartition window before broadcasting back. No global window
    over the corpus, no sort-merge join."""
    import re
    from kgforge.queries import q_pack_manifest
    df = q_pack_manifest(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final_main = final.split("== Initial Plan ==")[0]
    assert len(re.findall(r"FileScan parquet", final_main)) == 1, final_main
    assert "ReusedExchange" in final_main, final_main
    # every range-exchange mention resolves to ONE physical exchange
    ids = set(re.findall(r"Exchange rangepartitioning.*plan_id=(\d+)",
                         final_main))
    assert len(ids) == 1, final_main
    assert "BroadcastHashJoin" in final_main, final_main
    assert "SortMergeJoin" not in final_main, final_main
    assert "partial_sum" in final_main, final_main
    # the only SinglePartition exchange feeds the tiny per-pid totals
    # window (its child, printed below it, is the pid aggregate) — the
    # corpus itself never collapses to one partition
    ix_sp = final_main.find("Exchange SinglePartition")
    ix_pid_agg = final_main.find("HashAggregate(keys=[pid")
    assert 0 <= ix_sp < ix_pid_agg, final_main


def test_mixture_sample_no_corpus_shuffle(spark):
    """Closed-loop mixture sampling must be two passes and NO corpus
    shuffle: the counts pass scans ONLY the source column (pruned scan),
    quotas broadcast back, and the only Exchange in the plan is the tiny
    per-source count aggregation — corpus rows never shuffle or hit a
    sort-merge join."""
    import re
    from kgforge.queries import q_mixture_sample
    df = q_mixture_sample(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final_main = final.split("== Initial Plan ==")[0]
    schemas = re.findall(r"ReadSchema: (\S+)", final_main)
    assert "struct<source:string>" in schemas, schemas
    assert "BroadcastHashJoin" in final_main, final_main
    assert "SortMergeJoin" not in final_main, final_main
    ex = re.findall(r"Exchange hashpartitioning\((\w+)", final_main)
    assert set(ex) <= {"source"}, final_main
