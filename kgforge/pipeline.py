"""The five-stage KG-construction pipeline as Spark DataFrame plans.

Physical design (SURVEY §4):
- ONE shuffle between sentence production and inference: a repartition on
  a hash of (url, sent_idx) followed by sortWithinPartitions(n_tok), so no
  Arrow batch mixes wildly different sequence lengths and hot domains
  cannot concentrate in one task (anti-skew per BASELINE.json).
- Two Python evals per run, since every chained Python eval holds its own
  worker and every Spark stage holding one pays a fixed boundary cost:
  stage_extract_sentences (stages 1 + 2a) and stage_ner_score (stages 2b
  to 4: NER, candidates, NLI scoring and entity resolution). NER decodes
  each Arrow batch as flat numpy arrays (ner.predict_entity_lists), with
  no per-token Python objects. Linking's
  output is a JVM explode of the fused eval (stage_mentions), and stage 5
  (stage_triples) is a JVM join plus the dedup aggregation on both
  connected-components branches. Models are per-worker singletons
  (kgforge.workers).
- The alias dictionary ships to the fused eval as a broadcast variable.
- Cheap filters run before expensive stages (sentences with <2 entities
  never reach the NLI scorer; non-target languages are pruned at the scan).
- Stage boundaries can checkpoint to parquet with lineage manifests
  (kgforge.checkpoint) for exact resume.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import asdict

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schemas
from .config import PipelineConfig
from .extract import extract_text, extractor_hash
from .ner import predict_entity_lists
from .link import normalize_mention, rerank_ambiguous
from . import canon
from .canon import _release_local_checkpoint
from .checkpoint import checkpointed
from .tokenization import _SUBWORD_CHUNK, _WORD_RE, split_sentences
from .triples import Candidate, generate_candidates, score_candidates
from .workers import get_embedder, get_nli, get_token_classifier

# Part of every checkpoint's identity: a workdir written with other stage
# output schemas is recomputed, not resumed into a plan that cannot read it.
STAGE_FORMAT = hashlib.sha256("".join(
    s.json() for s in (schemas.SENTENCES, schemas.NER_SCORED,
                       schemas.RESOLVED, schemas.TRIPLES)).encode()).hexdigest()[:12]


# --------------------------------------------------------------------------
# stages 1 + 2a — extract, sentence split, length bucketing
# --------------------------------------------------------------------------

def _piece_count(sentence: str) -> int:
    """``len(tokenize_with_offsets(sentence).ids)`` without building the
    pieces: a word of n chars is ceil(n / _SUBWORD_CHUNK) pieces."""
    return sum((len(w) + _SUBWORD_CHUNK - 1) // _SUBWORD_CHUNK
               for w in _WORD_RE.findall(sentence))


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
# stages 2b + 3 + 4 — NER, candidates, zero-shot scoring, entity resolution
# --------------------------------------------------------------------------

def stage_ner_score(sentences: DataFrame, cfg: PipelineConfig,
                    alias_dict: DataFrame | None = None) -> DataFrame:
    """Fused model stage: NER + consolidation + BIOES + candidate generation
    + NLI scoring + entity resolution in ONE Python eval. The sentence
    stream crosses the JVM<->Python boundary once for all per-sentence
    work; downstream stages are pure-JVM explodes, joins and aggregations.

    NER runs once per Arrow batch (``ner.predict_entity_lists``): the
    batch is featurized, forwarded and decoded as flat arrays, and only
    the entities become Python objects. Candidates stay ``Candidate``
    objects until a kept one becomes its output dict, which holds only the
    fields stage 5 reads.

    Every entity gets its ``norm`` and, against the ``alias_dict`` table
    (collected once and broadcast), its ``entity_id``: all
    entities of an Arrow batch resolve in one ``_resolve_norms`` call, each
    with its own sentence as rerank context. With no ``alias_dict`` every
    ``entity_id`` is null. Every kept candidate copies the ids of its two
    argument entities, matched by (begin, end); an unresolved argument gets
    its surface node ``"s:" + norm``. Output: ``schemas.NER_SCORED``."""
    seed, dim = cfg.seed, cfg.embedding_dim
    cfg_kwargs = asdict(cfg)
    bc = (None if alias_dict is None else sentences.sparkSession.sparkContext
          .broadcast(_collect_alias_map(alias_dict)))

    def gen(batches):
        local_cfg = PipelineConfig(**cfg_kwargs)
        enc = get_token_classifier(seed, local_cfg.tokenizer)
        nli = get_nli(seed)
        emb = get_embedder(dim, seed)
        amap = bc.value if bc is not None else {}
        for pdf in batches:
            texts = pdf["sentence"].tolist()
            all_entities = []
            row_cands: list[list[Candidate]] = []
            flat_prem: list[str] = []
            flat_hyp: list[str] = []
            ent_ctx: list[str] = []
            for text, ents in zip(texts, predict_entity_lists(texts, enc, local_cfg)):
                eds = [{"word": e.word, "label": e.label, "score": e.score,
                        "begin": e.begin, "end": e.end,
                        "norm": normalize_mention(e.word)}
                       for e in ents]
                all_entities.append(eds)
                ent_ctx += [text] * len(eds)
                if len(eds) >= 2:
                    cands = generate_candidates(eds, local_cfg.max_pair_distance)
                else:
                    cands = []
                row_cands.append(cands)
                for c in cands:
                    flat_prem.append(text)
                    flat_hyp.append(c.hypothesis)
            flat_ents = [e for eds in all_entities for e in eds]
            ids = _resolve_norms([e["norm"] for e in flat_ents], ent_ctx, amap, emb)
            for e, eid in zip(flat_ents, ids):
                e["entity_id"] = eid
            if flat_prem:
                scores = score_candidates(flat_prem, flat_hyp, nli,
                                          local_cfg.batch_size,
                                          local_cfg.nli_max_length)
            pos = 0
            out_cands = []
            for eds, cands in zip(all_entities, row_cands):
                arg_id = {(e["begin"], e["end"]): e["entity_id"] or "s:" + e["norm"]
                          for e in eds}
                kept = []
                for c in cands:
                    sc = float(scores[pos]); pos += 1
                    if sc >= local_cfg.relation_threshold:
                        kept.append({
                            "pred": c.pred, "subj_word": c.subj_word,
                            "obj_word": c.obj_word, "score": sc,
                            "subj_id": arg_id[c.subj_begin, c.subj_end],
                            "obj_id": arg_id[c.obj_begin, c.obj_end]})
                out_cands.append(kept)
            yield pd.DataFrame({
                "url": pdf["url"], "sent_idx": pdf["sent_idx"],
                "sent_begin": pdf["sent_begin"], "sentence": pdf["sentence"],
                "entities": all_entities, "cands": out_cands,
            })

    return sentences.mapInPandas(gen, schema=schemas.NER_SCORED)


def stage_mentions(ner_scored: DataFrame) -> DataFrame:
    """Pure-JVM explode (no Python eval) of the fused eval's entities into
    RESOLVED rows: normalization and resolution happened in
    ``stage_ner_score``."""
    return (
        ner_scored
        .select("url", "sent_idx", "sentence", F.explode("entities").alias("e"))
        .select("url", "sent_idx", "sentence", "e.word", "e.label",
                "e.begin", "e.end", "e.norm", "e.entity_id")
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


def _resolve_norms(norms: list[str], contexts: list[str], amap: dict,
                   emb) -> list[str | None]:
    """Entity id per normalized mention (None: not in the dictionary). A
    single candidate resolves directly; every ambiguous alias of the batch
    goes through ONE embedding rerank, mention i against ``contexts[i]``,
    its sentence."""
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
            amb_ctx.append(contexts[i])
            amb_cands.append(cands)
    if amb_idx:
        picked = rerank_ambiguous(amb_ctx, amb_cands, emb)
        for i, eid in zip(amb_idx, picked):
            ids[i] = eid
    return ids


def stage_link(mentions: DataFrame, alias_dict: DataFrame,
               cfg: PipelineConfig) -> DataFrame:
    """Stage 4 on its own: alias-dictionary resolution + embedding rerank
    for ambiguous aliases, one Python eval over a mention stream. The
    pipeline resolves inside ``stage_ner_score`` instead; this per-mention
    form is the reference that resolution is tested against, and it
    overwrites any ``norm``/``entity_id`` its input carries.

    The dictionary is the SMALL side (that is why the north star broadcasts
    it); we pre-aggregate it per alias and ship it as an explicit Spark
    broadcast variable, so resolution is map-side over the mention stream —
    the big side is NEVER shuffled. (A broadcast hash JOIN would also avoid
    a shuffle, but the 1-alias-to-N-entities fanout would then need a
    groupBy-per-occurrence to regroup candidates — a full shuffle of all
    mentions — which this formulation eliminates.)

    Output: RESOLVED (entity_id null => unresolved).
    """
    dim, seed = cfg.embedding_dim, cfg.seed
    bc = mentions.sparkSession.sparkContext.broadcast(_collect_alias_map(alias_dict))
    cols = ["url", "sent_idx", "sentence", "word", "label", "begin", "end"]

    def gen(batches):
        emb = get_embedder(dim, seed)
        amap = bc.value
        for pdf in batches:
            norms = [normalize_mention(w) for w in pdf["word"]]
            pdf["norm"] = norms
            pdf["entity_id"] = _resolve_norms(norms, pdf["sentence"].tolist(),
                                              amap, emb)
            yield pdf

    return mentions.select(*cols).mapInPandas(gen, schema=schemas.RESOLVED)


# --------------------------------------------------------------------------
# stage 5 — canonicalization (connected components) + final triples
# --------------------------------------------------------------------------

def surface_components(
    resolved: DataFrame, mentions: DataFrame | None = None
) -> DataFrame:
    """Connected components over the UNRESOLVED-surface graph.

    Dictionary/ANN-resolved occurrences already have a canonical id (the
    entity), so they NEVER enter the graph: two entities sharing an
    ambiguous alias are never merged, and the CC input is O(distinct
    unresolved surfaces), not O(mention occurrences) — surface vocabulary
    grows sub-linearly in corpus size. Component canonical = min surface
    node id (deterministic).

    ``resolved`` carries every mention's (url, norm), so it is also the
    coref mention source; ``mentions`` may only be None or ``resolved``.

    The answer follows the one CC policy, ``canon.components``: a
    (node, component) frame of the surfaces that moved, on either branch.
    The common case is ONE Arrow download of at most
    ``canon.COLLECT_THRESHOLD`` graph rows (``_graph_rows``), read per
    call, with the edges built in Python — the JVM edge frame's shuffles
    are a Spark job each. Every coref edge comes from a distinct
    multi-word row and every self edge from a distinct unresolved row, so
    the edges number at most twice the rows and the row gate bounds driver
    memory. Rows grow with pages, edges with vocabulary: if
    the rows overflow, ``canon.components`` decides on the JVM edge
    frame."""
    if mentions is not None and mentions is not resolved:
        raise ValueError("surface_components: mentions must be None or "
                         "the resolved frame itself")
    rows = _graph_rows(resolved)
    threshold = canon.COLLECT_THRESHOLD
    table = rows.limit(threshold + 1).toArrow()
    if table.num_rows <= threshold:
        return canon.moved_frame(resolved.sparkSession,
                                 canon.cc_unionfind(_surface_edges(table)),
                                 pa.string())
    return canon.components(_surface_edge_frame(rows))


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


def stage_triples(ner_scored: DataFrame, moved: DataFrame) -> DataFrame:
    """Canonical triples in the JVM, with no Python eval and no
    occurrence-level joins. The fused eval's kept candidates carry their
    argument ids: a dictionary entity, or an unresolved surface node
    s:norm. One left join per side with ``moved``, the (node, component)
    frame of ``surface_components``, swaps a moved surface for its
    component; when no surface moved the frame is empty and the optimizer
    drops both joins. The only shuffle over candidates is the final
    (url, subj, pred, obj) dedup aggregation."""
    args = (
        ner_scored
        .select("url", "sent_idx", F.explode("cands").alias("c"))
        .select("url", "sent_idx", "c.pred", "c.subj_word", "c.obj_word",
                "c.score", "c.subj_id", "c.obj_id")
    )
    for side in ("subj", "obj"):
        args = (
            args.join(moved.withColumnRenamed("node", f"{side}_id"),
                      f"{side}_id", "left")
            .withColumn(f"{side}_id", F.coalesce("component", f"{side}_id"))
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
    mh = f"{cfg.model_name}:{extractor_hash()}:{STAGE_FORMAT}"
    sentences = checkpointed(
        lambda: repartition_by_length(stage_extract_sentences(pages), cfg),
        spark, workdir, "s1_sentences", ch, mh)
    # the one alias collect of a run, made only if this stage is computed:
    # a resumed run needs no dictionary
    ner_scored = checkpointed(lambda: stage_ner_score(sentences, cfg, alias_dict),
                              spark, workdir, "s2s3_ner_scored", ch, mh)
    if workdir is None:
        # feeds BOTH the surface graph and the triples; without a parquet
        # checkpoint, persist so inference runs once
        ner_scored = ner_scored.persist()
    resolved = checkpointed(lambda: stage_mentions(ner_scored),
                            spark, workdir, "s4_resolved", ch, mh)
    # resolved carries (url, norm) so it doubles as the coref mention source
    moved = surface_components(resolved, resolved)
    triples = checkpointed(lambda: stage_triples(ner_scored, moved),
                           spark, workdir, "s5_triples", ch, mh)
    if workdir is None:
        # cache discipline for long-lived sessions: materialize the (small)
        # triples result once, then release the inference cache. With a
        # workdir the stages live in parquet and nothing was persisted.
        triples = triples.localCheckpoint(eager=True)
        ner_scored.unpersist()
    # triples are now materialized (parquet checkpoint or localCheckpoint
    # above), so the distributed branch's localCheckpointed mapping can be
    # released; a driver LocalRelation holds no blocks
    _release_local_checkpoint(moved)
    return triples


# writer tasks per predicate directory in materialize_triples; read per call
WRITE_BUCKETS = 8


def materialize_triples(triples: DataFrame, path: str) -> None:
    """Partitioned table write: predicate-partitioned, url-sorted within
    partitions (the parquet analog of the Iceberg layout in the north star;
    the writer is isolated here so an Iceberg `writeTo` is a one-line swap).

    Write parallelism: repartitioning on `pred` alone would funnel the whole
    output through <= n_predicates tasks (4 here) and one hot predicate would
    serialize ~everything — a scale-killer invisible at sf0.1. Instead we
    repartition on (pred, pmod(xxhash64(url), WRITE_BUCKETS)) so each
    predicate directory is written by WRITE_BUCKETS tasks, while
    partitionBy('pred') still gives the one-directory-per-predicate layout."""
    (
        triples
        .repartition(
            F.col("pred"),
            F.pmod(F.xxhash64("url"), F.lit(WRITE_BUCKETS)))
        .sortWithinPartitions("url")
        .write.mode("overwrite")
        .partitionBy("pred")
        .parquet(path)
    )
