"""Per-Python-worker model singletons.

The reference loads model weights once per process and reuses them for every
batch (resource cache, src/common/resources/remote.rs:74-131). The Spark
analog: lazily build each stand-in model ONCE per Python worker process and
reuse it across all Arrow batches of all tasks scheduled on that worker —
never per-row, never per-batch (SURVEY §7 "Model-in-UDF lifecycle").
"""

from __future__ import annotations

from .encoders import StandInEmbedder, StandInNLI, StandInTokenClassifier

_CACHE: dict[tuple, object] = {}


def get_token_classifier(seed: int = 42,
                         tokenizer: str = "chunk") -> StandInTokenClassifier:
    key = ("tokcls", seed, tokenizer)
    if key not in _CACHE:
        from .synth import build_gazetteer
        clf = StandInTokenClassifier(
            build_gazetteer(tokenizer=get_tokenizer(tokenizer)), seed=seed)
        # stamp the gazetteer's tokenizer so predict_tokens can refuse a
        # mismatched cfg.tokenizer (silent all-O otherwise)
        clf.tokenizer_kind = tokenizer
        _CACHE[key] = clf
    return _CACHE[key]  # type: ignore[return-value]


def get_tokenizer(kind: str = "chunk"):
    """``tokenization.CHUNK`` for the default chunk tokenizer; a per-worker
    singleton for the sub-word tokenizers (``wordpiece`` | ``bpe`` |
    ``unigram`` — the three algorithm families of the reference's
    TokenizerOption closed enum, common.rs:258-330), each built once from
    the synthetic catalog + trigger vocab. A real deployment would construct
    the tokenizer from the checkpoint's vocab/merges/model file here — same
    contract."""
    # imported here, so a worker that only embeds or scores NLI never
    # loads the tokenizers
    from .tokenization import (CHUNK, BPETokenizer, UnigramTokenizer,
                               WordPieceTokenizer)
    if kind == "chunk":
        return CHUNK
    if kind not in ("wordpiece", "bpe", "unigram"):
        raise ValueError(f"unknown tokenizer kind: {kind!r}")
    key = ("tokenizer", kind)
    if key not in _CACHE:
        from .synth import wordpiece_vocab_words
        words = wordpiece_vocab_words()
        if kind == "wordpiece":
            _CACHE[key] = WordPieceTokenizer.from_words(words,
                                                        lower_case=False)
        elif kind == "bpe":
            _CACHE[key] = BPETokenizer.from_words(words)
        else:
            _CACHE[key] = UnigramTokenizer.from_words(words)
    return _CACHE[key]


def get_nli(seed: int = 42) -> StandInNLI:
    key = ("nli", seed)
    if key not in _CACHE:
        _CACHE[key] = StandInNLI(seed=seed)
    return _CACHE[key]  # type: ignore[return-value]


def get_embedder(dim: int = 64, seed: int = 42) -> StandInEmbedder:
    key = ("emb", dim, seed)
    if key not in _CACHE:
        _CACHE[key] = StandInEmbedder(dim=dim, seed=seed)
    return _CACHE[key]  # type: ignore[return-value]
