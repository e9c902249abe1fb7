"""The five-stage KG-construction pipeline as Spark DataFrame plans.

Physical design (SURVEY §4):
- ONE shuffle between sentence production and inference: a repartition on
  a hash of (url, sent_idx) followed by sortWithinPartitions(n_tok), so no
  Arrow batch mixes wildly different sequence lengths and hot domains
  cannot concentrate in one task (anti-skew per BASELINE.json).
- Each stage has one form: ONE fused Arrow-batched mapInPandas eval per
  stage (stage_extract_sentences, stage_ner_score, stage_link,
  stage_triples), since every chained Python eval holds its own worker;
  stage 5's stage_triples serves both connected-components branches.
  Models are per-worker singletons (kgforge.workers).
- The alias dictionary ships to the mention stream as a broadcast variable.
- Cheap filters run before expensive stages (sentences with <2 entities
  never reach the NLI scorer; non-target languages are pruned at the scan).
- Stage boundaries can checkpoint to parquet with lineage manifests
  (kgforge.checkpoint) for exact resume.
"""

from __future__ import annotations

import functools
import math
from dataclasses import asdict

import pandas as pd

from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from . import schemas
from .config import PipelineConfig
from .extract import extract_text, extractor_hash
from .ner import consolidate_entities, predict_tokens
from .link import normalize_mention, rerank_ambiguous
from . import canon
from .canon import _release_local_checkpoint
from .checkpoint import checkpointed
from .tokenization import _SUBWORD_CHUNK, _WORD_RE, split_sentences
from .triples import generate_candidates, score_candidates
from .workers import get_embedder, get_nli, get_token_classifier


# --------------------------------------------------------------------------
# stages 1 + 2a — extract, sentence split, length bucketing
# --------------------------------------------------------------------------

def _piece_count(sentence: str) -> int:
    return sum(
        (len(m.group(0)) + _SUBWORD_CHUNK - 1) // _SUBWORD_CHUNK
        for m in _WORD_RE.finditer(sentence)
    )


def stage_extract_sentences(
    pages: DataFrame, langs: tuple[str, ...] = ("en",)
) -> DataFrame:
    """Fused stage 1 + 2a: one Python eval instead of two.

    Each Python expression in a pipelined task chain holds its OWN worker
    process concurrently (Arrow streams through all of them), so every fused
    eval removes width x (worker spawn + numpy/pandas import) overhead —
    measured at ~2 CPU-seconds per worker, the dominant fixed cost at high
    parallelism. Same rationale as the reference doing featurize+forward in
    one process instead of piping between binaries."""
    def gen(batches):
        for pdf in batches:
            out = {k: [] for k in
                   ("url", "sent_idx", "sent_begin", "sentence", "n_tok", "bucket")}
            for url, html in zip(pdf["url"], pdf["html"]):
                text = extract_text(bytes(html)) if html is not None else ""
                for i, (begin, sent) in enumerate(split_sentences(text)):
                    n_tok = _piece_count(sent)
                    out["url"].append(url)
                    out["sent_idx"].append(i)
                    out["sent_begin"].append(begin)
                    out["sentence"].append(sent)
                    out["n_tok"].append(n_tok)
                    out["bucket"].append(int(math.ceil(math.log2(n_tok + 1))))
            yield pd.DataFrame(out)

    return (
        pages
        .where(F.col("lang").isin(list(langs)))   # pushed to the scan
        .select("url", "html")                    # column pruning
        .mapInPandas(gen, schema=schemas.SENTENCES)
    )


def repartition_by_length(sentences: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Anti-skew shuffle: uniform hash over (url, sent_idx) — every partition
    gets the same row count AND the same length distribution (a hot domain or
    a burst of giant documents cannot concentrate in one task) — then sort
    within partitions by token count so consecutive Arrow batches are
    length-homogeneous (tight padding; the reference pads to batch max,
    token_classification.rs:1044-1090, so mixed lengths waste FLOPs).

    Hashing on the length bucket itself would co-locate whole buckets and
    reintroduce stragglers; the in-partition sort achieves the same batch
    homogeneity without unbalancing partition work."""
    return (
        sentences
        .repartition(cfg.shuffle_partitions, F.xxhash64("url", "sent_idx"))
        .sortWithinPartitions("n_tok")
    )


# --------------------------------------------------------------------------
# stages 2b + 3 — NER, candidate generation, zero-shot scoring
# --------------------------------------------------------------------------

def stage_ner_score(sentences: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Fused model stage: NER + consolidation + BIOES + candidate generation
    + NLI scoring in ONE Python eval. The sentence stream crosses the
    JVM<->Python boundary once for all model work; downstream branches are
    pure-JVM explodes of the two array columns."""
    seed = cfg.seed
    cfg_kwargs = asdict(cfg)
    scored_cand = StructType(
        list(schemas.CANDIDATE.fields) + [StructField("score", DoubleType(), False)]
    )
    out_schema = StructType(
        schemas.SENTENCES.fields[:4]
        + [StructField("entities", ArrayType(schemas.ENTITY), False),
           StructField("cands", ArrayType(scored_cand), False)]
    )

    def gen(batches):
        local_cfg = PipelineConfig(**cfg_kwargs)
        enc = get_token_classifier(seed, local_cfg.tokenizer)
        nli = get_nli(seed)
        for pdf in batches:
            texts = pdf["sentence"].tolist()
            token_lists = predict_tokens(texts, enc, local_cfg)
            all_entities = []
            row_cands: list[list[dict]] = []
            flat_prem: list[str] = []
            flat_hyp: list[str] = []
            for text, toks in zip(texts, token_lists):
                ents = consolidate_entities(toks)
                eds = [{"word": e.word, "label": e.label, "score": e.score,
                        "begin": e.begin, "end": e.end} for e in ents]
                all_entities.append(eds)
                if len(eds) >= 2:
                    cands = [asdict(c) for c in
                             generate_candidates(eds, local_cfg.max_pair_distance)]
                else:
                    cands = []
                row_cands.append(cands)
                for c in cands:
                    flat_prem.append(text)
                    flat_hyp.append(c["hypothesis"])
            if flat_prem:
                scores = score_candidates(flat_prem, flat_hyp, nli,
                                          local_cfg.batch_size,
                                          local_cfg.nli_max_length)
            pos = 0
            out_cands = []
            for cands in row_cands:
                kept = []
                for c in cands:
                    sc = float(scores[pos]); pos += 1
                    if sc >= local_cfg.relation_threshold:
                        c = dict(c)
                        c["score"] = sc
                        kept.append(c)
                out_cands.append(kept)
            yield pd.DataFrame({
                "url": pdf["url"], "sent_idx": pdf["sent_idx"],
                "sent_begin": pdf["sent_begin"], "sentence": pdf["sentence"],
                "entities": all_entities, "cands": out_cands,
            })

    return sentences.mapInPandas(gen, schema=out_schema)


# --------------------------------------------------------------------------
# stage 4 — entity linking
# --------------------------------------------------------------------------

def stage_mentions(sentence_entities: DataFrame) -> DataFrame:
    """Pure-JVM explode (no Python eval); normalization happens inside the
    linking stage's single Python eval."""
    return (
        sentence_entities
        .select("url", "sent_idx", "sentence", F.explode("entities").alias("e"))
        .select(
            "url", "sent_idx", "sentence",
            F.col("e.word").alias("word"), F.col("e.label").alias("label"),
            F.col("e.begin").alias("begin"), F.col("e.end").alias("end"),
        )
    )


def _collect_alias_map(alias_dict: DataFrame) -> dict[str, list[tuple[str, str, float]]]:
    """Tiny driver-side aggregation of the alias dimension table."""
    alias_map: dict[str, list[tuple[str, str, float]]] = {}
    for r in alias_dict.select("alias", "entity_id", "desc", "prior").collect():
        alias_map.setdefault(r["alias"], []).append(
            (r["entity_id"], r["desc"], float(r["prior"])))
    for v in alias_map.values():
        v.sort()
    return alias_map


def _alias_broadcast(sc: SparkContext, alias_dict: DataFrame | Broadcast) -> Broadcast:
    """The alias map as a broadcast variable. A caller running several
    stages passes one it already built: each collect of the dictionary is a
    driver round trip of its own."""
    if isinstance(alias_dict, Broadcast):
        return alias_dict
    return sc.broadcast(_collect_alias_map(alias_dict))


def _resolve_norms(norms: list[str], sentences: pd.Series, amap: dict,
                   emb) -> list[str | None]:
    """Entity id per normalized mention (None: not in the dictionary). A
    single candidate resolves directly; every ambiguous alias of the batch
    goes through ONE embedding rerank on its sentence context."""
    ids: list[str | None] = [None] * len(norms)
    amb_idx, amb_ctx, amb_cands = [], [], []
    for i, norm in enumerate(norms):
        cands = amap.get(norm)
        if not cands:
            continue
        if len(cands) == 1:
            ids[i] = cands[0][0]
        else:
            amb_idx.append(i)
            amb_ctx.append(sentences.iloc[i])
            amb_cands.append(cands)
    if amb_idx:
        picked = rerank_ambiguous(amb_ctx, amb_cands, emb)
        for i, eid in zip(amb_idx, picked):
            ids[i] = eid
    return ids


def stage_link(mentions: DataFrame, alias_dict: DataFrame | Broadcast,
               cfg: PipelineConfig) -> DataFrame:
    """Alias-dictionary resolution + embedding rerank for ambiguous aliases.

    The dictionary is the SMALL side (that is why the north star broadcasts
    it); we pre-aggregate it per alias and ship it as an explicit Spark
    broadcast variable, so resolution is map-side over the mention stream —
    the big side is NEVER shuffled. (A broadcast hash JOIN would also avoid
    a shuffle, but the 1-alias-to-N-entities fanout would then need a
    groupBy-per-occurrence to regroup candidates — a full shuffle of all
    mentions — which this formulation eliminates.)

    ``alias_dict`` is the dimension table, or its ``_alias_broadcast``.

    Output: RESOLVED (entity_id null => unresolved).
    """
    dim, seed = cfg.embedding_dim, cfg.seed
    bc = _alias_broadcast(mentions.sparkSession.sparkContext, alias_dict)

    def gen(batches):
        emb = get_embedder(dim, seed)
        amap = bc.value
        for pdf in batches:
            norms = [normalize_mention(w) for w in pdf["word"]]
            out = pdf[["url", "sent_idx", "sentence", "word", "label",
                       "begin", "end"]].copy()
            out["norm"] = norms
            out["entity_id"] = _resolve_norms(norms, pdf["sentence"], amap, emb)
            yield out

    return mentions.mapInPandas(gen, schema=schemas.RESOLVED)


# --------------------------------------------------------------------------
# stage 5 — canonicalization (connected components) + final triples
# --------------------------------------------------------------------------

def surface_components(
    resolved: DataFrame,
    mentions: DataFrame | None = None,
    collect_threshold: int = canon.COLLECT_THRESHOLD,
) -> dict[str, str] | DataFrame:
    """Connected components over the UNRESOLVED-surface graph.

    Dictionary/ANN-resolved occurrences already have a canonical id (the
    entity), so they NEVER enter the graph: two entities sharing an
    ambiguous alias are never merged, and the CC input is O(distinct
    unresolved surfaces), not O(mention occurrences) — surface vocabulary
    grows sub-linearly in corpus size. Component canonical = min surface
    node id (deterministic).

    ``resolved`` carries every mention's (url, norm), so it is also the
    coref mention source; ``mentions`` may only be None or ``resolved``.

    The branch follows the one CC policy, ``canon.components``: the answer
    is a driver dict or a (surf, component) frame. The common case is ONE
    Arrow download of at most ``collect_threshold`` graph rows
    (``_graph_rows``) with the edges built in Python — the JVM edge
    frame's shuffles are a Spark job each. Every coref edge comes from a
    distinct multi-word row and every self edge from a distinct unresolved
    row, so the edges number at most twice the rows and the row gate
    bounds driver memory. Rows grow with pages, edges with vocabulary: if
    the rows overflow, ``canon.components`` decides on the JVM edge
    frame."""
    if mentions is not None and mentions is not resolved:
        raise ValueError("surface_components: mentions must be None or "
                         "the resolved frame itself")
    rows = _graph_rows(resolved)
    table = rows.limit(collect_threshold + 1).toArrow()
    if table.num_rows <= collect_threshold:
        return canon.cc_unionfind(_surface_edges(table))
    comp = canon.components(_surface_edge_frame(rows), collect_threshold)
    return comp if isinstance(comp, dict) else comp.withColumnRenamed("node", "surf")


def _graph_rows(resolved: DataFrame) -> DataFrame:
    """Distinct (url, norm, unres) rows that can make a surface node or a
    coref edge: unresolved norms (nodes, coref sources) and multi-word norms
    (coref targets, resolved or not). The unresolved flag rides the distinct
    for free: a norm resolves identically wherever it occurs (deterministic
    dictionary), so distinct (url, norm, unres) == distinct (url, norm)."""
    return (
        resolved
        .select("url", "norm", F.col("entity_id").isNull().alias("unres"))
        .where(F.col("unres") | F.col("norm").contains(" "))
        .distinct()
    )


def _surface_edges(table) -> list[tuple[str, str]]:
    """The surface graph's edges from an Arrow table of ``_graph_rows``:
      s:norm       — s:norm          (self edge: every unresolved surface)
      s:last_word  — s:full_norm     (within-page partial-name coreference)
    The same edge set ``_surface_edge_frame`` builds in the JVM, without
    its join and distinct stages."""
    unresolved: set[tuple[str, str]] = set()
    by_last_word: dict[tuple[str, str], set[str]] = {}
    for url, norm, unres in zip(table.column("url").to_pylist(),
                                table.column("norm").to_pylist(),
                                table.column("unres").to_pylist()):
        if unres:
            unresolved.add((url, norm))
        if " " in norm:
            by_last_word.setdefault((url, norm.rsplit(" ", 1)[1]), set()).add(norm)
    nodes = {norm for _, norm in unresolved}
    coref = {("s:" + key[1], "s:" + full)
             for key in unresolved for full in by_last_word.get(key, ())}
    return [("s:" + n, "s:" + n) for n in nodes] + list(coref)


def _surface_edge_frame(rows: DataFrame) -> DataFrame:
    """The JVM form of ``_surface_edges`` over ``_graph_rows``, for inputs
    with too many graph rows to download."""
    unresolved_pairs = rows.where(F.col("unres"))
    surface_nodes = (
        unresolved_pairs.select(F.concat(F.lit("s:"), F.col("norm")).alias("src"))
        .distinct()
        .withColumn("dst", F.col("src"))       # self edge keeps singletons
    )
    multiword = (
        rows.select(F.col("url").alias("m_url"), F.col("norm").alias("full_norm"))
        .where(F.size(F.split("full_norm", " ")) > 1)
        .withColumn("lastw", F.element_at(F.split("full_norm", " "), -1))
    )
    coref_edges = (
        unresolved_pairs.select(F.col("url").alias("u_url"),
                                F.col("norm").alias("u_norm"))
        .join(multiword,
              (F.col("u_url") == F.col("m_url")) & (F.col("u_norm") == F.col("lastw")),
              "inner")
        .select(F.concat(F.lit("s:"), F.col("u_norm")).alias("src"),
                F.concat(F.lit("s:"), F.col("full_norm")).alias("dst"))
        .distinct()
    )
    return surface_nodes.unionByName(coref_edges)


def stage_triples(
    scored: DataFrame,
    alias_dict: DataFrame | Broadcast,
    comp: dict[str, str] | DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """Canonical triples WITHOUT occurrence-level joins. Candidate args are
    resolved map-side against the broadcast alias dictionary (stage_link's
    ``_resolve_norms``; deterministic, so the same answer per occurrence).
    An unresolved arg takes its surface's component from ``comp``, in
    whichever form surface_components returned: a driver dict is broadcast
    into the same eval; a distributed (surf, component) frame is
    vocabulary-sized, so the eval keeps each unresolved arg's s:norm
    surface and one left join per side swaps in the component (``surf``
    holds only s: nodes, so entity ids never match). The only shuffle over
    candidates is the final (url, subj, pred, obj) dedup aggregation."""
    dim, seed = cfg.embedding_dim, cfg.seed
    sc = scored.sparkSession.sparkContext
    bc_alias = _alias_broadcast(sc, alias_dict)
    on_driver = isinstance(comp, dict)
    bc_cc = sc.broadcast(comp if on_driver else {})

    def gen(batches):
        emb = get_embedder(dim, seed)
        amap, ccm = bc_alias.value, bc_cc.value
        for pdf in batches:
            out = pdf[["url", "sent_idx", "pred", "subj_word", "obj_word",
                       "score"]].copy()
            for side in ("subj", "obj"):
                norms = [normalize_mention(w) for w in pdf[f"{side}_word"]]
                ids = _resolve_norms(norms, pdf["sentence"], amap, emb)
                # unresolved: the surface's component, else the surface itself
                out[f"{side}_id"] = [
                    eid if eid is not None else ccm.get("s:" + n, "s:" + n)
                    for n, eid in zip(norms, ids)]
            yield out

    out_schema = StructType([
        schemas.TRIPLES["url"], schemas.TRIPLES["sent_idx"],
        schemas.TRIPLES["pred"], schemas.TRIPLES["subj_word"],
        schemas.TRIPLES["obj_word"], schemas.TRIPLES["score"],
        schemas.TRIPLES["subj_id"], schemas.TRIPLES["obj_id"],
    ])
    args = scored.mapInPandas(gen, schema=out_schema)
    if not on_driver:
        for side in ("subj", "obj"):
            args = (
                args.join(comp.withColumnRenamed("surf", f"{side}_id"),
                          f"{side}_id", "left")
                .withColumn(f"{side}_id",
                            F.coalesce("component", f"{side}_id"))
                .drop("component")
            )
    return (
        args
        .groupBy("url", "subj_id", "pred", "obj_id")
        .agg(
            F.min("sent_idx").alias("sent_idx"),
            # min, not first: first() is nondeterministic across
            # partitionings; materialized triples must be run-identical
            F.min("subj_word").alias("subj_word"),
            F.min("obj_word").alias("obj_word"),
            F.max("score").alias("score"),
        )
        .select("url", "sent_idx", "subj_id", "pred", "obj_id",
                "subj_word", "obj_word", "score")
    )


# --------------------------------------------------------------------------
# end-to-end
# --------------------------------------------------------------------------

def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame,
    cfg: PipelineConfig | None = None,
    workdir: str | None = None,
) -> DataFrame:
    """pages + alias_dict -> canonical triples DataFrame.

    With ``workdir`` set, each stage materializes to parquet with a lineage
    manifest and resumes from it when re-run with the same config."""
    cfg = cfg or PipelineConfig()
    ch = cfg.config_hash()
    mh = f"{cfg.model_name}:{extractor_hash()}"
    # one alias collect feeds both stages that need it, made on first use:
    # a resumed stage needs no dictionary
    aliases = functools.cache(
        lambda: _alias_broadcast(spark.sparkContext, alias_dict))

    sentences = checkpointed(
        lambda: repartition_by_length(stage_extract_sentences(pages), cfg),
        spark, workdir, "s1_sentences", ch, mh)
    ner_scored = checkpointed(lambda: stage_ner_score(sentences, cfg),
                              spark, workdir, "s2s3_ner_scored", ch, mh)
    persisted: list[DataFrame] = []
    if workdir is None:
        # feeds BOTH the triples branch and the linking branch; without a
        # parquet checkpoint, persist so inference runs once
        ner_scored = ner_scored.persist()
        persisted.append(ner_scored)
    scored = (
        ner_scored
        .where(F.size("cands") >= 1)
        .select("url", "sent_idx", "sentence", F.explode("cands").alias("c"))
        .select("url", "sent_idx", "sentence", "c.*")
    )
    resolved = checkpointed(
        lambda: stage_link(stage_mentions(ner_scored), aliases(), cfg),
        spark, workdir, "s4_resolved", ch, mh)
    if workdir is None:
        resolved = resolved.persist()
        persisted.append(resolved)
    # resolved carries (url, norm) so it doubles as the coref mention source
    comp = surface_components(resolved, resolved)
    triples = checkpointed(lambda: stage_triples(scored, aliases(), comp, cfg),
                           spark, workdir, "s5_triples", ch, mh)
    if persisted:
        # cache discipline for long-lived sessions: materialize the (small)
        # triples result once, then release every intermediate cache. With a
        # workdir the stages live in parquet and nothing was persisted.
        triples = triples.localCheckpoint(eager=True)
        for df in persisted:
            df.unpersist()
    if not isinstance(comp, dict):
        # the component mapping was a materialized localCheckpoint; triples
        # are now materialized (parquet checkpoint or localCheckpoint above),
        # so its blocks can be released
        _release_local_checkpoint(comp)
    return triples


def materialize_triples(triples: DataFrame, path: str,
                        write_buckets: int = 8) -> None:
    """Partitioned table write: predicate-partitioned, url-sorted within
    partitions (the parquet analog of the Iceberg layout in the north star;
    the writer is isolated here so an Iceberg `writeTo` is a one-line swap).

    Write parallelism: repartitioning on `pred` alone would funnel the whole
    output through <= n_predicates tasks (4 here) and one hot predicate would
    serialize ~everything — a scale-killer invisible at sf0.1. Instead we
    repartition on (pred, pmod(xxhash64(url), B)) so each predicate directory
    is written by B tasks, while partitionBy('pred') still gives the
    one-directory-per-predicate layout."""
    (
        triples
        .repartition(
            F.col("pred"),
            F.pmod(F.xxhash64("url"), F.lit(write_buckets)))
        .sortWithinPartitions("url")
        .write.mode("overwrite")
        .partitionBy("pred")
        .parquet(path)
    )
