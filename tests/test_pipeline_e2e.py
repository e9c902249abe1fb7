"""End-to-end pipeline tests on tiny synthetic pages (the P/R gate at pytest
scale) + local-vs-Spark equivalence + checkpoint/resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgforge import schemas
from kgforge.config import PipelineConfig
from kgforge.extract import wrap_html
from kgforge.metrics import triple_pr
from kgforge.pipeline import (
    STAGE_FORMAT,
    repartition_by_length,
    run_pipeline,
    stage_extract_sentences,
    stage_link,
    stage_mentions,
    stage_ner_score,
)
from test_canon import _moved, _surface_oracle


@pytest.fixture(scope="module")
def cfg():
    return PipelineConfig()


@pytest.fixture(scope="module")
def triples(spark, tiny_pages_df, alias_df, cfg):
    t = run_pipeline(spark, tiny_pages_df, alias_df, cfg)
    t.cache().count()
    return t


def _last_execution_id(spark) -> int:
    """Highest SQL execution id in the status store, once the listener bus
    has delivered every finished execution."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


@pytest.fixture
def alias_collects(monkeypatch):
    """Counts the pipeline's collects of the alias dictionary."""
    import kgforge.pipeline as pl

    calls = []
    real = pl._collect_alias_map

    def spy(alias_dict):
        calls.append(alias_dict)
        return real(alias_dict)

    monkeypatch.setattr(pl, "_collect_alias_map", spy)
    return calls


def _moved_by(call) -> tuple[dict, float]:
    """Run a CC producer under perfbench's spy. -> (node -> component of
    the frame it answers, its ``canon.distributed``); the frame's
    checkpoint, if any, is released."""
    from kgforge.canon import _release_local_checkpoint
    from perfbench.workloads import canon_metrics, watch_components

    with watch_components() as seen:
        moved = call()
    mapping = {r["node"]: r["component"] for r in moved.collect()}
    _release_local_checkpoint(moved)
    return mapping, canon_metrics(seen)["canon.distributed"]


# 'Orla Quizzle' is not in the alias dictionary: the bare 'Quizzle'
# surfaces move to its component
_QUIZZLE_PAGES = {
    "https://t/a": "t\nOrla Quizzle lives in Paris. Quizzle works for Acme Corp.",
    "https://t/b": "t\nQuizzle lives in Berlin.",
}


def _pages_df(spark, texts: dict[str, str]):
    """One English page per (url, text), its html wrapping the text."""
    return spark.createDataFrame(
        [{"url": url, "warc_ts": None, "html": wrap_html(text, url),
          "text": text, "lang": "en"} for url, text in texts.items()],
        schema=schemas.PAGES)


def test_surface_graph_driver_edges_match_jvm_edges(spark, monkeypatch):
    """kg-web-sized graphs carry no coref edge, so the coref cases are
    hand-built: the driver-side edges must equal the JVM edge frame, and
    every gate outcome (rows fit; rows overflow but edges fit; edges
    overflow -> distributed) must give union-find's moved surfaces over
    it."""
    from kgforge import canon
    from kgforge.canon import cc_unionfind
    from kgforge.pipeline import (_graph_rows, _surface_edge_frame,
                                  _surface_edges, surface_components)

    def m(url, sent_idx, word, entity_id=None):
        norm = word.lower()
        return (url, sent_idx, f"{word} was here.", word, "PER", 0,
                len(word), norm, entity_id)

    resolved = spark.createDataFrame([
        # unresolved surname + resolved full name on one page -> edge;
        # the surname repeats across sentences
        m("https://t/a", 0, "Orla Quizzle", "PER_9001"),
        m("https://t/a", 1, "Quizzle"),
        m("https://t/a", 2, "Quizzle"),
        m("https://t/a", 3, "Ida Vex", "PER_9002"),
        # the full name's surname on ANOTHER page -> no edge
        m("https://t/b", 0, "Vex"),
        # unresolved multi-word norm: a node AND a coref target
        m("https://t/c", 0, "Lena Drax"),
        m("https://t/c", 1, "Lena Drax"),
        m("https://t/c", 2, "Drax"),
        # resolved single-word norms make neither node nor edge
        m("https://t/c", 3, "Paris", "LOC_9003"),
        # a full name on a second page: one more graph row, no more edges
        m("https://t/d", 0, "Ida Vex", "PER_9002"),
    ], schema=schemas.RESOLVED)

    rows = _graph_rows(resolved)
    assert rows.count() == 7
    jvm_edges = [(r["src"], r["dst"]) for r in _surface_edge_frame(rows).collect()]
    driver_edges = _surface_edges(rows.toArrow())
    assert sorted(driver_edges) == sorted(jvm_edges) == sorted([
        ("s:quizzle", "s:quizzle"), ("s:vex", "s:vex"),
        ("s:lena drax", "s:lena drax"), ("s:drax", "s:drax"),
        ("s:quizzle", "s:orla quizzle"), ("s:drax", "s:lena drax"),
    ])
    expected = {
        "s:quizzle": "s:orla quizzle", "s:orla quizzle": "s:orla quizzle",
        "s:vex": "s:vex",
        "s:drax": "s:drax", "s:lena drax": "s:drax",
    }
    assert cc_unionfind(jvm_edges) == expected

    moved = _moved(expected)
    assert moved == {"s:quizzle": "s:orla quizzle", "s:lena drax": "s:drax"}

    assert _moved_by(lambda: surface_components(resolved, resolved)) == (moved, 0)
    # 7 rows overflow, 6 edges fit: still the driver branch
    monkeypatch.setattr(canon, "COLLECT_THRESHOLD", 6)
    assert _moved_by(lambda: surface_components(resolved)) == (moved, 0)
    monkeypatch.setattr(canon, "COLLECT_THRESHOLD", 5)
    assert _moved_by(lambda: surface_components(
        resolved, resolved)) == (moved, 1)
    with pytest.raises(ValueError):
        surface_components(resolved, resolved.select("*"))


def test_in_memory_run_collects_alias_map_once(spark, tiny_pages_df, alias_df,
                                               cfg, alias_collects):
    """The fused NER/NLI eval is the only stage that reads the alias map:
    one collect of the dictionary per run."""
    assert run_pipeline(spark, tiny_pages_df, alias_df, cfg).count() > 0
    assert len(alias_collects) == 1


def test_distributed_cc_branch_matches_driver_unionfind(spark, alias_df, cfg,
                                                        monkeypatch):
    """The at-scale fallback (surface graph > COLLECT_THRESHOLD -> the
    distributed large-star/small-star operator) must produce exactly the
    driver-side union-find moved surfaces, a non-empty set on these pages,
    and leave only that mapping cached."""
    from kgforge import canon
    from kgforge.canon import _release_local_checkpoint
    from kgforge.pipeline import surface_components

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def mapping(moved):
        return {r["node"]: r["component"] for r in moved.collect()}

    ner = stage_ner_score(repartition_by_length(stage_extract_sentences(
        _pages_df(spark, _QUIZZLE_PAGES)), cfg), cfg).persist()
    resolved = stage_link(stage_mentions(ner), alias_df, cfg).persist()
    want = _surface_oracle(resolved)
    assert want

    first = _last_execution_id(spark)
    driver = surface_components(resolved, resolved)
    # the driver branch is one Arrow download: one SQL execution
    assert _last_execution_id(spark) - first == 1
    assert mapping(driver) == want

    before = n_cached()
    monkeypatch.setattr(canon, "COLLECT_THRESHOLD", 0)
    distributed = surface_components(resolved, resolved)
    assert mapping(distributed) == want
    # cache discipline: edges and every retired CC iteration state are
    # freed eagerly; only the materialized mapping itself remains
    assert n_cached() - before <= 1, (n_cached(), before)
    _release_local_checkpoint(distributed)
    ner.unpersist()
    resolved.unpersist()


def test_empty_and_degenerate_pages(spark, alias_df, cfg):
    """At 100 TB empty partitions, null blobs and empty documents are
    routine — the pipeline must produce zero triples, not crash."""
    import datetime

    empty = spark.createDataFrame([], schema=schemas.PAGES)
    assert run_pipeline(spark, empty, alias_df, cfg).count() == 0

    ts = datetime.datetime(2024, 1, 1)
    degen = spark.createDataFrame(
        [("https://a/1", ts, None, "", "en"),          # null html
         ("https://a/2", ts, b"", "", "en"),           # empty html
         ("https://a/3", ts, b"<html></html>", "", "en"),   # no text
         ("https://a/4", ts, b"x", "text", "xx")],     # pruned lang
        schema=schemas.PAGES)
    assert run_pipeline(spark, degen, alias_df, cfg).count() == 0


def test_no_lingering_intermediate_caches(spark, tiny_pages_df, alias_df, cfg,
                                          monkeypatch):
    """run_pipeline must release every intermediate cache (ner_scored,
    resolved, surface edges, the CC mapping) on both CC branches —
    long-lived sessions must not accumulate cached stages. Only the
    returned result's own localCheckpoint survives."""
    from kgforge import canon

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    for forced_distributed in (False, True):
        if forced_distributed:
            monkeypatch.setattr(canon, "COLLECT_THRESHOLD", 0)
        before = n_cached()
        t = run_pipeline(spark, tiny_pages_df, alias_df, cfg)
        assert t.count() > 0
        # just the eager result checkpoint
        assert n_cached() - before <= 1, forced_distributed


def test_pr_gate(triples, gold_triples_df):
    """BASELINE.json: P/R >= 0.95 vs gold triples."""
    pr = triple_pr(triples, gold_triples_df)
    assert pr.precision >= 0.95, pr
    assert pr.recall >= 0.95, pr


def test_pr_gate_wordpiece_tokenizer(spark, tiny_pages_df, alias_df,
                                     gold_triples_df):
    """Same e2e gate with the WordPiece tokenizer swapped in via config:
    featurization runs longest-match-first WordPiece (entity words one
    piece via the catalog vocab, other words ##-char pieces) and the
    gazetteer keys on the SAME pieces — P/R must stay exact."""
    t = run_pipeline(spark, tiny_pages_df, alias_df,
                     PipelineConfig(tokenizer="wordpiece"))
    pr = triple_pr(t, gold_triples_df)
    assert pr.precision == 1.0 and pr.recall == 1.0, pr


def test_pr_gate_bpe_tokenizer(spark, tiny_pages_df, alias_df,
                               gold_triples_df):
    """Same e2e gate with byte-level BPE swapped in: convergence-trained
    merges make entity words single pieces (multibyte surfaces key on their
    byte-proxy piece), and the gazetteer keys on the SAME pieces."""
    t = run_pipeline(spark, tiny_pages_df, alias_df,
                     PipelineConfig(tokenizer="bpe"))
    pr = triple_pr(t, gold_triples_df)
    assert pr.precision == 1.0 and pr.recall == 1.0, pr


def test_pr_gate_unigram_tokenizer(spark, tiny_pages_df, alias_df,
                                   gold_triples_df):
    """Same e2e gate with the SentencePiece-style unigram tokenizer:
    Viterbi segments in-vocab entity words as one piece."""
    t = run_pipeline(spark, tiny_pages_df, alias_df,
                     PipelineConfig(tokenizer="unigram"))
    pr = triple_pr(t, gold_triples_df)
    assert pr.precision == 1.0 and pr.recall == 1.0, pr


def test_triples_schema_and_values(triples):
    assert set(triples.columns) == {
        "url", "sent_idx", "subj_id", "pred", "obj_id",
        "subj_word", "obj_word", "score"}
    rows = triples.collect()
    assert rows
    for r in rows:
        assert r["score"] >= 0.5
        assert r["pred"] in ("lives_in", "works_for", "located_in", "founded_by")
        # canonical ids resolved through the alias dictionary
        assert r["subj_id"].startswith(("PER_", "ORG_"))
        assert r["obj_id"].startswith(("PER_", "ORG_", "LOC_"))


def test_extract_matches_text_column(spark, tiny_pages_df):
    """Stage-1 invariant on the Spark side: the sentences extracted from
    html are exactly the split of the stored text, in every language."""
    from kgforge.tokenization import split_sentences

    langs = ("en", "fr", "de", "es")
    got = sorted(
        tuple(r) for r in stage_extract_sentences(tiny_pages_df, langs=langs)
        .select("url", "sent_idx", "sent_begin", "sentence").collect())
    want = sorted(
        (r["url"], i, begin, sent)
        for r in tiny_pages_df.where(F.col("lang").isin(list(langs)))
        .select("url", "text").collect()
        for i, (begin, sent) in enumerate(split_sentences(r["text"])))
    assert got and got == want


def test_spark_ner_matches_local(spark, tiny_pages_df, cfg):
    """UDF output == single-process reference implementation row-for-row
    (SURVEY §5 local-vs-Spark equivalence)."""
    from kgforge.encoders import StandInTokenClassifier
    from kgforge.ner import consolidate_entities, predict_tokens
    from kgforge.synth import build_gazetteer
    from kgforge.tokenization import split_sentences

    sent_ents = stage_ner_score(
        repartition_by_length(stage_extract_sentences(tiny_pages_df), cfg), cfg)
    got = {
        (r["url"], r["sent_idx"]): [
            (e["word"], e["label"], e["begin"], e["end"], round(e["score"], 12))
            for e in r["entities"]
        ]
        for r in sent_ents.collect()
    }

    enc = StandInTokenClassifier(build_gazetteer(), seed=cfg.seed)
    pages = {r["url"]: r["text"] for r in
             tiny_pages_df.where(F.col("lang") == "en").select("url", "text").collect()}
    checked = 0
    for url, text in pages.items():
        sents = split_sentences(text)
        texts = [s for _, s in sents]
        toks = predict_tokens(texts, enc, cfg)
        for i, t in enumerate(toks):
            want = [(e.word, e.label, e.begin, e.end, round(e.score, 12))
                    for e in consolidate_entities(t)]
            assert got[(url, i)] == want, (url, i)
            checked += 1
    assert checked > 100


# 'Apex' is an ambiguous alias: the sentence context picks the entity
_APEX_PAGES = {
    "https://t/1": ("t\nIt is known that Amy Smith works for Apex near the "
                    "mining shipping harbor."),
    "https://t/2": ("t\nIt is known that Amy Smith works for Apex near the "
                    "software campus banking."),
}


def test_ambiguous_alias_resolved_by_context(spark, alias_df, cfg):
    """The 'Apex' alias must resolve via the ANN rerank to the entity whose
    signature words appear in the sentence."""
    pages_df = _pages_df(spark, _APEX_PAGES)
    mentions = stage_mentions(stage_ner_score(stage_extract_sentences(pages_df), cfg))
    resolved = stage_link(mentions, alias_df, cfg)
    by_url = {(r["url"], r["word"]): r["entity_id"] for r in resolved.collect()}
    assert by_url[("https://t/1", "Apex")] == "ORG_0100"  # Apex Mining Group
    assert by_url[("https://t/2", "Apex")] == "ORG_0101"  # Apex Software Labs


def test_fused_resolution_matches_stage_link(spark, tiny_pages_df, alias_df,
                                            cfg):
    """The fused eval's resolution equals the per-mention stage_link on
    every RESOLVED column, on the tiny corpus and on the ambiguous-alias
    pages, where the rerank context decides."""
    cols = schemas.RESOLVED.fieldNames()
    for pages_df in (tiny_pages_df, _pages_df(spark, _APEX_PAGES)):
        sentences = repartition_by_length(stage_extract_sentences(pages_df), cfg)
        linked = stage_link(stage_mentions(stage_ner_score(sentences, cfg)),
                            alias_df, cfg)
        fused = stage_mentions(stage_ner_score(sentences, cfg, alias_df))
        want = sorted(map(tuple, linked.select(*cols).collect()))
        got = sorted(map(tuple, fused.select(*cols).collect()))
        assert want and got == want
        assert any(r[-1] is not None for r in got)


def test_unlinked_mentions_cluster_via_cc(spark, alias_df, cfg, monkeypatch):
    """'Orla Quizzle' (not in the alias dict) and two bare 'Quizzle'
    mentions, one of them on another page, must all share one canonical id
    via connected components: in surface_components' moved surfaces on
    both CC branches (each equal to union-find's), and in the triples of
    run_pipeline on both CC branches, whose moved surfaces stage 5 joins
    in."""
    import kgforge.pipeline as pl
    from kgforge import canon

    pages_df = _pages_df(spark, _QUIZZLE_PAGES)
    resolved = stage_link(stage_mentions(stage_ner_score(
        stage_extract_sentences(pages_df), cfg)), alias_df, cfg).persist()
    mentions = resolved.collect()
    mapping = _surface_oracle(resolved)
    assert _moved_by(lambda: pl.surface_components(resolved)) == (mapping, 0)
    monkeypatch.setattr(canon, "COLLECT_THRESHOLD", 0)
    assert _moved_by(lambda: pl.surface_components(resolved)) == (mapping, 1)
    monkeypatch.undo()
    resolved.unpersist()
    quizzle = [r for r in mentions if "Quizzle" in r["word"]]
    assert len(quizzle) == 3 and all(r["entity_id"] is None for r in quizzle)
    canonical = {mapping.get(s, s) for s in ("s:" + r["norm"] for r in quizzle)}
    assert len(canonical) == 1, mapping
    # Paris/Berlin resolved normally
    locs = {r["word"]: r["entity_id"] for r in mentions
            if r["word"] in ("Paris", "Berlin")}
    assert locs["Paris"].startswith("LOC_") and locs["Berlin"].startswith("LOC_")

    driver = sorted(map(tuple, run_pipeline(spark, pages_df, alias_df, cfg).collect()))
    monkeypatch.setattr(canon, "COLLECT_THRESHOLD", 0)
    triples = run_pipeline(spark, pages_df, alias_df, cfg).collect()
    assert sorted(map(tuple, triples)) == driver
    args = {(r[f"{side}_word"], r[f"{side}_id"])
            for r in triples for side in ("subj", "obj")}
    assert {eid for word, eid in args if "Quizzle" in word} == canonical
    assert all(eid.startswith("LOC_") for word, eid in args
               if word in ("Paris", "Berlin"))
    assert {"Paris", "Berlin"} <= {word for word, _ in args}


def test_distractors_produce_no_triples(spark, alias_df, cfg):
    """Sentences with two entities but no relation the NLI head accepts:
    candidates are generated and scored, and none survives."""
    pages_df = _pages_df(spark, {
        "https://t/d": ("t\nAmy Smith visited Paris yesterday. "
                        "Amy Smith criticized Acme Corp yesterday."),
    })
    rows = stage_ner_score(stage_extract_sentences(pages_df), cfg).collect()
    # both body sentences (not the title) reach candidate generation
    assert sum(len(r["entities"]) >= 2 for r in rows) == 2, rows
    assert all(len(r["cands"]) == 0 for r in rows)


def test_non_english_pages_pruned(spark, tiny_pages_df, cfg):
    sents = stage_extract_sentences(tiny_pages_df)  # default langs=("en",)
    langs = {r["lang"] for r in
             sents.select("url").distinct().join(tiny_pages_df, "url")
             .select("lang").distinct().collect()}
    assert langs == {"en"}
    assert tiny_pages_df.where(F.col("lang") != "en").count() > 0


def test_checkpoint_resume_identical(spark, tiny_pages_df, alias_df, cfg, tmp_path,
                                    alias_collects):
    wd = str(tmp_path / "wd")
    t1 = run_pipeline(spark, tiny_pages_df, alias_df, cfg, workdir=wd)
    rows1 = sorted(map(tuple, t1.collect()))
    assert os.path.exists(os.path.join(wd, "s5_triples", "_kg_manifest.json"))
    assert len(alias_collects) == 1
    t2 = run_pipeline(spark, tiny_pages_df, alias_df, cfg, workdir=wd)
    rows2 = sorted(map(tuple, t2.collect()))
    assert rows1 == rows2
    # a full resume builds no stage that needs the alias dictionary
    assert len(alias_collects) == 1


def test_checkpoint_of_older_stage_format_is_recomputed(spark, tiny_pages_df,
                                                      alias_df, cfg, triples,
                                                      tmp_path):
    """A workdir whose fused stage was written in an older output format
    (entities without norm/entity_id, candidates without argument ids)
    under the identity of that time must be recomputed, not resumed: the
    run gives the fresh run's triples."""
    import json

    from kgforge.checkpoint import write_stage
    from kgforge.extract import extractor_hash

    wd = str(tmp_path / "wd")
    # that format's candidate: every Candidate field and the score, no
    # argument ids; the fields today's format dropped get placeholders
    old_cand = [("subj_word", None), ("subj_type", ""), ("subj_begin", 0),
                ("subj_end", 0), ("obj_word", None), ("obj_type", ""),
                ("obj_begin", 0), ("obj_end", 0), ("pred", None),
                ("hypothesis", ""), ("score", None)]
    ner = stage_ner_score(
        repartition_by_length(stage_extract_sentences(tiny_pages_df), cfg), cfg)
    old = ner.select(
        "url", "sent_idx", "sent_begin", "sentence",
        F.transform("entities", lambda e: F.struct(
            *[e[c].alias(c) for c in schemas.ENTITY.fieldNames()])
        ).alias("entities"),
        F.transform("cands", lambda c: F.struct(
            *[(c[n] if v is None else F.lit(v)).alias(n)
              for n, v in old_cand])).alias("cands"))
    path = os.path.join(wd, "s2s3_ner_scored")
    write_stage(old, path, "s2s3_ner_scored", cfg.config_hash(),
                f"{cfg.model_name}:{extractor_hash()}")

    got = run_pipeline(spark, tiny_pages_df, alias_df, cfg, workdir=wd)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, triples.collect()))
    with open(os.path.join(path, "_kg_manifest.json")) as f:
        assert json.load(f)["model_hash"].endswith(":" + STAGE_FORMAT)


def test_length_bucketing_partitions_are_homogeneous(spark, tiny_pages_df, cfg):
    """Within a partition, token counts must be sorted (the anti-skew
    contract that keeps Arrow batches length-homogeneous)."""
    sents = repartition_by_length(stage_extract_sentences(tiny_pages_df), cfg)

    def check(it):
        import pandas as pd
        for pdf in it:
            ok = bool((pdf["n_tok"].diff().dropna() >= 0).all())
            yield pd.DataFrame({"ok": [ok]})

    from pyspark.sql.types import BooleanType, StructField, StructType
    res = sents.mapInPandas(check, StructType([StructField("ok", BooleanType())]))
    assert all(r["ok"] for r in res.collect())


def test_hot_domain_and_giant_doc_skew_balance(spark, cfg):
    """Anti-skew contract: with 90% of pages on one domain plus giant
    documents, the post-repartition sentence partitions stay balanced
    (max/mean row ratio bounded)."""
    from kgforge.synth import _filler_sentence
    import random

    rng = random.Random(0)
    texts = {}
    for i in range(300):
        domain = "hot.example.com" if i % 10 else f"cold{i}.example.com"
        n_sent = 120 if i % 37 == 0 else rng.randint(2, 6)  # giant-doc tail
        texts[f"https://{domain}/p/{i}"] = "t\n" + "\n".join(
            _filler_sentence(rng) for _ in range(n_sent))
    sents = repartition_by_length(
        stage_extract_sentences(_pages_df(spark, texts)), cfg)
    counts = [r["cnt"] for r in
              sents.groupBy(F.spark_partition_id().alias("pid"))
                   .agg(F.count(F.lit(1)).alias("cnt")).collect()]
    assert len(counts) > 4
    mean = sum(counts) / len(counts)
    assert max(counts) <= 2.0 * mean, (sorted(counts), mean)
