"""Stage 4 — entity linking: alias-dictionary match + embedding rerank.

Two-tier resolution, exactly the shape mandated by the north star:
1. normalized mention -> alias-dictionary lookup. The dictionary is small
   relative to pages: the driver collects it once per run, grouped by alias
   (``pipeline._collect_alias_map``), and ships it as a broadcast variable
   into the fused NER/NLI eval, which resolves each Arrow batch's mentions
   map-side (``pipeline._resolve_norms``) — no join, no shuffle;
2. ambiguous aliases (2+ candidate entities) -> dense-embedding rerank:
   cosine(embed(mention sentence context), embed(entity description)), the
   block being the alias itself — a degenerate-but-exact form of blocked ANN
   (candidates sharing the block key only). Embeddings follow the reference's
   sentence-embeddings semantics (masked mean pooling + L2 normalize,
   src/pipelines/sentence_embeddings/layers.rs:39-76, pipeline.rs:403-411).

``rerank_ambiguous`` is the pure core; ``pipeline._resolve_norms`` calls it
once per Arrow batch of the fused eval. ``cosine_topk`` is the exact
brute-force top-k that tests compare the ANN indexes against.
"""

from __future__ import annotations

import numpy as np

from .encoders import StandInEmbedder
from .textnorm import normalize_mention  # re-export for stage use

__all__ = ["normalize_mention", "rerank_ambiguous", "cosine_topk"]


def rerank_ambiguous(
    contexts: list[str],
    candidates: list[list[tuple[str, str, float]]],
    embedder: StandInEmbedder,
) -> list[str]:
    """Pick one entity per mention occurrence.

    ``candidates[i]``: list of (entity_id, desc, prior) sharing the mention's
    alias. Ties broken by (cosine, prior, entity_id) — fully deterministic.
    Returns entity_id per occurrence.
    """
    ctx_emb = embedder.encode(contexts)  # [N, D], L2-normalized
    out: list[str] = []
    # per-call memo: occurrences of the same ambiguous alias share the
    # identical candidate desc list, so encode each distinct list once
    desc_cache: dict[tuple[str, ...], np.ndarray] = {}
    for i, cands in enumerate(candidates):
        if len(cands) == 1:
            out.append(cands[0][0])
            continue
        descs = tuple(c[1] for c in cands)
        cand_emb = desc_cache.get(descs)
        if cand_emb is None:
            cand_emb = embedder.encode(list(descs))    # [K, D]
            desc_cache[descs] = cand_emb
        sims = cand_emb @ ctx_emb[i]               # cosine (unit vectors)
        order = sorted(
            range(len(cands)),
            key=lambda j: (-float(sims[j]), -cands[j][2], cands[j][0]),
        )
        out.append(cands[order[0]][0])
    return out


def cosine_topk(
    queries: np.ndarray, corpus: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force cosine top-k (the exact baseline for ANN).

    -> (indices [Nq, k], scores [Nq, k]) sorted by descending score with
    deterministic index tie-break."""
    qn = queries / np.clip(np.linalg.norm(queries, axis=1, keepdims=True), 1e-12, None)
    cn = corpus / np.clip(np.linalg.norm(corpus, axis=1, keepdims=True), 1e-12, None)
    sims = qn @ cn.T
    k = min(k, corpus.shape[0])
    # argsort on (-score, index) for deterministic ordering
    idx = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    scores = np.take_along_axis(sims, idx, axis=1)
    return idx, scores
