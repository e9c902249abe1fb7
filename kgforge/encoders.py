"""Deterministic stand-in encoders behind a pluggable protocol.

torch/onnxruntime are unavailable in this sandbox, so the "model" is a seeded
deterministic stand-in producing logits from stable hashes (FIXTURES.md,
"Oracle note"). Every piece of *pipeline math* downstream of the logits —
softmax/argmax decoding, consolidation, BIOES chunking, zero-shot slicing,
pooling/normalization — is identical to what a real ONNX encoder would feed,
and is ported from the reference:

- token-classification softmax: exp(x)/Σexp(x) over the label dim
  (src/pipelines/token_classification.rs:991-995)
- zero-shot multilabel: logits[..., 0::2] = [contradiction, entailment],
  softmax over the pair, take entailment
  (src/pipelines/zero_shot_classification.rs:1009)
- zero-shot single-label: softmax of the entailment logit ACROSS labels
  (src/pipelines/zero_shot_classification.rs:868)
- sentence embeddings: CLS/Max/Mean/MeanSqrtLen pooling (concatenable),
  optional Dense+activation projection, then L2-normalize with clamp 1e-12
  (src/pipelines/sentence_embeddings/layers.rs:39-76 + 110-153,
  pipeline.rs:150-152 + 395-411)

Swapping in onnxruntime later = implement the same ``forward`` contract with
an InferenceSession held as a per-worker singleton (mirrors the reference's
Torch/ONNX ModelResource duality, src/pipelines/common.rs:85-89).
"""

from __future__ import annotations

import hashlib
import re
from functools import lru_cache
from typing import Protocol

import numpy as np

from .config import NER_LABELS, RELATIONS

_U64 = np.uint64
_MASK64 = _U64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit integer mix (public splitmix64 constants)."""
    x = x.astype(np.uint64)
    x = (x + _U64(0x9E3779B97F4A7C15)) & _MASK64
    x = ((x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _MASK64
    x = ((x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)) & _MASK64
    return x ^ (x >> _U64(31))


def _hash_noise(ids: np.ndarray, n_channels: int, seed: int) -> np.ndarray:
    """Deterministic noise in [0, 0.1): shape ids.shape + (n_channels,)."""
    base = ids.astype(np.uint64)[..., None] * _U64(n_channels) + np.arange(
        n_channels, dtype=np.uint64
    )
    mixed = _splitmix64(base + _U64(seed * 0x10001))
    return (mixed >> _U64(11)).astype(np.float64) / float(1 << 53) * 0.1


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    """exp(x)/Σexp(x) — same math as token_classification.rs:991-995 (the
    reference skips the max-subtraction trick; we keep it for stability,
    which is exact-equivalent)."""
    m = np.max(x, axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / np.sum(e, axis=axis, keepdims=True)


class TokenClassifier(Protocol):
    def forward(
        self,
        input_ids: np.ndarray,
        attention_mask: np.ndarray,
        continuation_mask: np.ndarray | None = None,
    ) -> np.ndarray:
        """[B, T] int64 ids -> [B, T, n_labels] float64 logits.

        ``continuation_mask`` marks sub-word continuation positions; a real
        contextual encoder ignores it (attention provides the context), the
        stand-in uses it to label continuations consistently with their word.
        """
        ...


class StandInTokenClassifier:
    """Gazetteer-backed deterministic token classifier.

    The gazetteer maps sub-word piece ids -> NER label id; hits get a +8
    logit on their label channel, misses +6 on 'O'. Hash noise (<0.1) makes
    scores non-degenerate while keeping argmax deterministic.
    """

    def __init__(self, gazetteer: dict[int, int], labels: list[str] | None = None,
                 seed: int = 42):
        self.labels = labels or NER_LABELS
        self.n_labels = len(self.labels)
        self.seed = seed
        if gazetteer:
            keys = np.array(sorted(gazetteer), dtype=np.int64)
            vals = np.array([gazetteer[k] for k in keys], dtype=np.int64)
        else:
            keys = np.empty(0, dtype=np.int64)
            vals = np.empty(0, dtype=np.int64)
        self._keys, self._vals = keys, vals

    def _lookup(self, ids: np.ndarray) -> np.ndarray:
        """ids -> label id (0 = 'O' for misses). Vectorized via searchsorted."""
        out = np.zeros(ids.shape, dtype=np.int64)
        if len(self._keys) == 0:
            return out
        pos = np.searchsorted(self._keys, ids)
        pos_c = np.clip(pos, 0, len(self._keys) - 1)
        hit = self._keys[pos_c] == ids
        out[hit] = self._vals[pos_c[hit]]
        return out

    def forward(
        self,
        input_ids: np.ndarray,
        attention_mask: np.ndarray,
        continuation_mask: np.ndarray | None = None,
        token_texts: np.ndarray | None = None,
    ) -> np.ndarray:
        b, t = input_ids.shape
        logits = _hash_noise(input_ids, self.n_labels, self.seed)
        label_ids = self._lookup(input_ids)
        if continuation_mask is not None:
            # continuation positions inherit the label of the word-initial
            # piece to their left (what a trained contextual model does):
            # each column reads the last non-continuation column at or
            # before it; column 0 always reads itself
            cols = np.arange(t)
            anchor = np.where(continuation_mask.astype(bool), 0, cols)
            anchor = np.maximum.accumulate(anchor, axis=1)
            label_ids = np.take_along_axis(label_ids, anchor, axis=1)
        rows = np.arange(b)[:, None], np.arange(t)[None, :]
        bump = np.where(label_ids == 0, 0, 8.0)
        logits[rows[0], rows[1], label_ids] += bump
        logits[..., 0] += np.where(label_ids == 0, 6.0, 0.0)
        return logits


class StandInPOSTagger:
    """Deterministic POS head (reference: src/pipelines/pos_tagging.rs uses
    the same token-classification machinery with a POS label map, :262-290).
    Labels come from textops.pos_tag_word applied to the word-initial piece;
    continuations inherit (same mechanism as the NER stand-in)."""

    needs_token_texts = True   # predict_tokens builds piece texts only on demand

    def __init__(self, seed: int = 42):
        from .textops import POS_LABELS
        self.labels = POS_LABELS
        self.n_labels = len(self.labels)
        self.seed = seed

    def forward(
        self,
        input_ids: np.ndarray,
        attention_mask: np.ndarray,
        continuation_mask: np.ndarray | None = None,
        token_texts: np.ndarray | None = None,
    ) -> np.ndarray:
        from .textops import POS_LABEL2ID, pos_tag_word
        b, t = input_ids.shape
        label_ids = np.zeros((b, t), dtype=np.int64)
        if token_texts is not None:
            for i in range(b):
                for j in range(t):
                    piece = token_texts[i][j]
                    if not piece:
                        continue
                    if piece.startswith("##"):
                        label_ids[i, j] = label_ids[i, j - 1] if j else 0
                    else:
                        label_ids[i, j] = POS_LABEL2ID[pos_tag_word(piece)]
        logits = _hash_noise(input_ids, self.n_labels, self.seed)
        rows = np.arange(b)[:, None], np.arange(t)[None, :]
        logits[rows[0], rows[1], label_ids] += 8.0
        return logits


class StandInSeqClassifier:
    """Deterministic sequence-classification head (reference:
    src/pipelines/sequence_classification.rs:729-775; sentiment wrapper
    src/pipelines/sentiment.rs:184-213). Logits from lexicon counts; the
    softmax/argmax and multilabel-sigmoid paths are the reference math."""

    id2label = {0: "Negative", 1: "Positive"}

    def __init__(self, seed: int = 42):
        self.seed = seed

    def forward_texts(self, texts: list[str]) -> np.ndarray:
        """-> [N, 2] logits (Negative, Positive)."""
        import re as _re
        from .textops import NEGATIVE_LEX, POSITIVE_LEX
        out = np.zeros((len(texts), 2), dtype=np.float64)
        for i, text in enumerate(texts):
            words = _re.findall(r"\w+", text.lower())
            out[i, 0] = sum(1 for w in words if w in NEGATIVE_LEX)
            out[i, 1] = sum(1 for w in words if w in POSITIVE_LEX) + 0.5
        return out

    def predict(self, texts: list[str]) -> list[dict]:
        """Single-label: softmax(-1) -> argmax -> gathered score
        (sequence_classification.rs:745-775)."""
        logits = self.forward_texts(texts)
        probs = softmax(logits, axis=-1)
        ids = np.argmax(probs, axis=-1)
        return [
            {"text": t, "id": int(i), "label": self.id2label[int(i)],
             "score": float(probs[k, i]), "sentence": k}
            for k, (t, i) in enumerate(zip(texts, ids))
        ]

    def predict_multilabel(self, texts: list[str], threshold: float = 0.5) -> list[list[dict]]:
        """Multi-label: per-logit sigmoid, keep score >= threshold
        (sequence_classification.rs:799-846)."""
        logits = self.forward_texts(texts)
        probs = 1.0 / (1.0 + np.exp(-logits))
        out = []
        for k, t in enumerate(texts):
            row = [
                {"text": t, "id": i, "label": self.id2label[i],
                 "score": float(probs[k, i]), "sentence": k}
                for i in range(probs.shape[1]) if probs[k, i] >= threshold
            ]
            out.append(row)
        return out


class StandInNLI:
    """Deterministic NLI pair scorer for zero-shot relation extraction.

    Hypotheses are produced by per-relation templates
    ("{subj} <trigger> {obj}." — the reference supports exactly this via its
    ZeroShotTemplate closure, src/pipelines/zero_shot_classification.rs:610).
    Entailment is high iff the premise contains "subj <trigger> obj" with the
    surface trigger phrase between the argument mentions.
    """

    _TRIGGERS = sorted(
        ((r["trigger"], name) for name, r in RELATIONS.items()),
        key=lambda x: -len(x[0]),
    )

    def __init__(self, seed: int = 42):
        self.seed = seed

    @staticmethod
    def _parse_hypothesis(hyp: str) -> tuple[str, str, str] | None:
        for trigger, _name in StandInNLI._TRIGGERS:
            mid = f" {trigger} "
            if mid in hyp:
                subj, obj = hyp.split(mid, 1)
                return subj.strip(), trigger, obj.rstrip(". ").strip()
        return None

    @staticmethod
    def _svo_in(prem: str, subj: str, trigger: str, obj: str) -> bool:
        """Pure string scan equivalent of
        ``re.search(escape(subj) + r"\\s+" + escape(trigger) + r"\\s+" +
        escape(obj), prem)``. The per-candidate pattern string was almost
        always unique, so ``re.search`` COMPILED a fresh regex nearly every
        call (the re module's pattern cache never hit) — measured at 22% of
        the whole pipeline's Python time. ``str.isspace()`` and a str
        pattern's ``\\s`` are both Py_UNICODE_ISSPACE, and subj/trigger/obj
        are stripped (never whitespace-led), so the greedy ``\\s+`` runs
        need no backtracking — the scan is match-for-match identical."""
        n = len(prem)
        start = 0
        while True:
            i = prem.find(subj, start)
            if i < 0:
                return False
            j = i + len(subj)
            k = j
            while k < n and prem[k].isspace():
                k += 1
            if k > j and prem.startswith(trigger, k):
                m = k + len(trigger)
                mm = m
                while mm < n and prem[mm].isspace():
                    mm += 1
                if mm > m and prem.startswith(obj, mm):
                    return True
            start = i + 1

    def forward_pairs(self, premises: list[str], hypotheses: list[str]) -> np.ndarray:
        """-> [N, 3] float64 logits over [contradiction, neutral, entailment]."""
        n = len(premises)
        seeds = np.array(
            [int.from_bytes(hashlib.md5((p + "\x00" + h).encode()).digest()[:8],
                            "little") for p, h in zip(premises, hypotheses)],
            dtype=np.uint64,
        )
        noise = _hash_noise(seeds, 3, self.seed)
        logits = np.tile(np.array([4.0, -2.0, -4.0]), (n, 1)) + noise
        for i, (prem, hyp) in enumerate(zip(premises, hypotheses)):
            parsed = self._parse_hypothesis(hyp)
            if parsed is None:
                continue
            subj, trigger, obj = parsed
            if self._svo_in(prem, subj, trigger, obj):
                logits[i, 0], logits[i, 2] = logits[i, 2], logits[i, 0]
                logits[i, 2] += 2.0
        return logits


def multilabel_entailment_scores(logits: np.ndarray) -> np.ndarray:
    """Zero-shot multilabel scoring: per pair, softmax over
    [contradiction, entailment] (= logits[..., 0::2]) and return the
    entailment probability (zero_shot_classification.rs:1009)."""
    pair = logits[..., 0::2]
    return softmax(pair, axis=-1)[..., 1]


def single_label_scores(entail_logits: np.ndarray) -> np.ndarray:
    """Zero-shot single-label: softmax of the entailment logit across the
    label dim (zero_shot_classification.rs:868). Input [n_inputs, n_labels]."""
    return softmax(entail_logits, axis=-1)


class PoolingConfig:
    """Port of PoolingConfig (sentence_embeddings/layers.rs:11-22): each
    flag enables one pooling mode; enabled modes are CONCATENATED along the
    feature dim (layers.rs:74 ``Tensor::cat(&output_vectors, 1)``), so the
    pooled width is ``n_modes * word_embedding_dimension``."""

    def __init__(self, cls_token: bool = False, max_tokens: bool = False,
                 mean_tokens: bool = True, mean_sqrt_len_tokens: bool = False):
        if not (cls_token or max_tokens or mean_tokens or mean_sqrt_len_tokens):
            raise ValueError("at least one pooling mode must be enabled")
        self.pooling_mode_cls_token = cls_token
        self.pooling_mode_max_tokens = max_tokens
        self.pooling_mode_mean_tokens = mean_tokens
        self.pooling_mode_mean_sqrt_len_tokens = mean_sqrt_len_tokens

    @property
    def n_modes(self) -> int:
        return sum((self.pooling_mode_cls_token, self.pooling_mode_max_tokens,
                    self.pooling_mode_mean_tokens,
                    self.pooling_mode_mean_sqrt_len_tokens))


def pool_token_embeddings(token_embeddings: np.ndarray,
                          attention_mask: np.ndarray,
                          conf: PoolingConfig) -> np.ndarray:
    """Port of Pooling::forward (layers.rs:39-76), value-for-value:

    - CLS: take position 0 (layers.rs:43-45);
    - Max: pads filled with -1e9 before the time-max (layers.rs:48-53);
    - Mean / MeanSqrtLen: masked sum over time divided by the mask sum
      clamped at 10e-9, the sqrt variant dividing by sqrt(sum_mask)
      (layers.rs:56-72 — the reference's literal ``10e-9``, i.e. 1e-8);
    - enabled modes concatenated along the feature dim (layers.rs:74).

    token_embeddings [B, T, D] float64; attention_mask [B, T] (1 = real
    token, 0 = pad) -> [B, n_modes * D].
    """
    emb = token_embeddings.astype(np.float64)
    mask = attention_mask.astype(np.float64)[..., None]     # [B, T, 1]
    outs: list[np.ndarray] = []
    if conf.pooling_mode_cls_token:
        outs.append(emb[:, 0, :])
    if conf.pooling_mode_max_tokens:
        outs.append(np.where(mask == 0, -1e9, emb).max(axis=1))
    if conf.pooling_mode_mean_tokens or conf.pooling_mode_mean_sqrt_len_tokens:
        sum_embeddings = (emb * mask).sum(axis=1)
        sum_mask = np.clip(
            np.broadcast_to(mask, emb.shape).sum(axis=1), 10e-9, None)
        if conf.pooling_mode_mean_tokens:
            outs.append(sum_embeddings / sum_mask)
        if conf.pooling_mode_mean_sqrt_len_tokens:
            outs.append(sum_embeddings / np.sqrt(sum_mask))
    return np.concatenate(outs, axis=1)


import math as _math

# numpy lacks erf and scipy is absent; a module-level vectorized math.erf
# avoids re-building the ufunc per Arrow batch on the executor hot path
# (np.vectorize is still a per-element Python loop — the gelu stand-in is
# not vectorized-C speed; a real deployment would ship scipy.special.erf)
_erf = np.vectorize(_math.erf)

# activation registry — port of Activation::get_function
# (common/activations.rs:5-30,69-84); same closed set of names.
# mish uses the overflow-safe softplus (logaddexp(0,x) == log1p(exp(x))
# without the large-|x| exp overflow warning); swish's exp(-x) only
# overflows toward x->-inf where the result correctly underflows to 0.
ACTIVATIONS = {
    "gelu": lambda x: x * 0.5 * (1.0 + _erf(x / np.sqrt(2.0))),
    "relu": lambda x: np.maximum(x, 0.0),
    "swish": lambda x: x / (1.0 + np.exp(-x)),
    "mish": lambda x: x * np.tanh(np.logaddexp(0.0, x)),
    "gelu_new": lambda x: x * 0.5 * (np.tanh(
        (x ** 3 * 0.044715 + x) * np.sqrt(2.0 / np.pi)) + 1.0),
    "tanh": np.tanh,
    "identity": lambda x: x,
}


class DenseLayer:
    """Port of the optional Dense layer (layers.rs:110-153; applied after
    pooling at pipeline.rs:397-401): ``activation(x @ W.T + b)``. A real
    checkpoint loads W/b from the VarStore (layers.rs:141); the stand-in
    derives them deterministically from the seed — same forward contract,
    swappable weights."""

    def __init__(self, in_features: int, out_features: int, bias: bool = True,
                 activation: str = "tanh", seed: int = 42):
        if activation not in ACTIVATIONS:
            raise ValueError(f"Invalid Activation: {activation}")
        self.in_features = in_features
        self.out_features = out_features
        self.activation = activation
        idx = np.arange(in_features * out_features, dtype=np.uint64)
        u = (_splitmix64(idx + _U64(seed * 0x51ED)) >> _U64(11)).astype(
            np.float64) / float(1 << 53)
        self.weight = (u * 0.5 - 0.25).reshape(out_features, in_features)
        if bias:
            bu = (_splitmix64(np.arange(out_features, dtype=np.uint64)
                              + _U64(seed * 0xB1A5)) >> _U64(11)).astype(
                np.float64) / float(1 << 53)
            self.bias = bu * 0.1 - 0.05
        else:
            self.bias = np.zeros(out_features)

    def forward(self, x: np.ndarray) -> np.ndarray:
        return ACTIVATIONS[self.activation](x @ self.weight.T + self.bias)


@lru_cache(maxsize=1 << 16)
def _token_vec_cached(token: str, dim: int, seed: int) -> np.ndarray:
    """Token -> hashed char-trigram vector. Pure function of its arguments,
    cached per worker: the corpus token vocabulary is small and repeats
    constantly while each build costs one md5 per trigram (~6 per word).
    The cached array is frozen read-only; every consumer copies it into a
    fresh matrix via np.stack before any arithmetic."""
    padded = f"^{token.lower()}$"
    grams = [padded[i:i + 3] for i in range(max(1, len(padded) - 2))]
    idx = np.array(
        [int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "little")
         for g in grams], dtype=np.uint64)
    sign_bits = (_splitmix64(idx + _U64(seed)) >> _U64(13)) & _U64(1)
    vec = np.zeros(dim, dtype=np.float64)
    np.add.at(vec, (idx % _U64(dim)).astype(np.int64),
              np.where(sign_bits == 1, 1.0, -1.0))
    vec.setflags(write=False)
    return vec


class StandInEmbedder:
    """Deterministic sentence embedder: hashed char-trigram token vectors,
    then the reference's pooling -> optional Dense -> optional L2-normalize
    stack (sentence_embeddings/layers.rs:39-76, pipeline.rs:150-152 +
    395-411). Default config (masked mean pooling, no dense, normalize with
    clamp_min 1e-12) is bit-identical to the pre-pooling-port behavior."""

    def __init__(self, dim: int = 64, seed: int = 42):
        self.dim = dim
        self.seed = seed

    def _token_vec(self, token: str) -> np.ndarray:
        return _token_vec_cached(token, self.dim, self.seed)

    def encode(self, texts: list[str],
               pooling: PoolingConfig | None = None,
               dense: DenseLayer | None = None,
               normalize: bool = True) -> np.ndarray:
        """-> [N, n_modes * dim] float32 (dense.out_features wide when a
        Dense layer is configured), L2-normalized unless ``normalize=False``
        (the reference's has_normalization() module switch,
        pipeline.rs:284)."""
        pooling = pooling if pooling is not None else PoolingConfig()
        rows: list[np.ndarray] = []
        for text in texts:
            tokens = re.findall(r"\w+", text, re.UNICODE)
            if tokens:
                mat = np.stack([self._token_vec(t) for t in tokens])[None]
                mask = np.ones((1, len(tokens)))
            else:
                # empty text: one all-pad position so T >= 1; mean pools to
                # the zero vector (0 / clamped mask sum), matching the
                # pre-port behavior
                mat = np.zeros((1, 1, self.dim))
                mask = np.zeros((1, 1))
            rows.append(pool_token_embeddings(mat, mask, pooling)[0])
        out = (np.stack(rows) if rows
               else np.zeros((0, pooling.n_modes * self.dim)))
        if dense is not None:                      # pipeline.rs:397-401
            out = dense.forward(out)
        if normalize:
            norms = np.linalg.norm(out, axis=1, keepdims=True)
            out = out / np.clip(norms, 1e-12, None)  # pipeline.rs:403-411
        return out.astype(np.float32)


# --------------------------------------------------------------------------
# ONNX runtime adapter (#23) — the ModelResource::{Torch, ONNX} duality
# --------------------------------------------------------------------------

class ONNXTokenClassifier:
    """Adapter proving the stand-in <-> real-runtime swap is a config change
    (the reference's ModelResource::{Torch, ONNX}, common.rs:85-89).

    Wraps anything with the ``onnxruntime.InferenceSession`` surface
    (``get_inputs() -> [meta(.name)]``, ``run(output_names, feed) ->
    [arrays]``) behind the same ``TokenClassifier.forward`` protocol the
    pipeline consumes. Input assembly mirrors ONNXEncoder::forward
    (onnx/encoder.rs:112-160): offer the canonical tensor names, feed
    exactly the names the session declares, and raise the reference's
    "{name} not found but expected by model." error otherwise. The
    ``continuation_mask``/``token_texts`` hints are accepted and ignored —
    a real contextual encoder derives that from attention.
    """

    CANONICAL = ("input_ids", "attention_mask", "token_type_ids",
                 "position_ids")

    def __init__(self, session, logits_output: str = "logits"):
        self.session = session
        self.logits_output = logits_output
        self.input_names = [i.name for i in session.get_inputs()]

    def forward(
        self,
        input_ids: np.ndarray,
        attention_mask: np.ndarray,
        continuation_mask: np.ndarray | None = None,
        token_texts: np.ndarray | None = None,
    ) -> np.ndarray:
        b, t = input_ids.shape
        available = {
            "input_ids": input_ids.astype(np.int64),
            "attention_mask": attention_mask.astype(np.int64),
            "token_type_ids": np.zeros((b, t), dtype=np.int64),
            "position_ids": np.tile(np.arange(t, dtype=np.int64), (b, 1)),
        }
        feed = {}
        for name in self.input_names:
            if name not in available:
                raise ValueError(f"{name} not found but expected by model.")
            feed[name] = available[name]
        (logits,) = self.session.run([self.logits_output], feed)
        return np.asarray(logits, dtype=np.float64)


class ONNXLayerCache:
    """Port of ONNXLayerCache (onnx/models.rs:1106-1129): the named
    key/value tensors a decoder session emitted, fed back verbatim on the
    next step. Built from a session's outputs by keeping every output
    whose name contains ``key`` or ``value`` (the reference's
    from_ort_output filter)."""

    def __init__(self, values: dict[str, np.ndarray]):
        self.values = dict(values)

    @classmethod
    def from_session_output(cls, output_names, outputs) -> "ONNXLayerCache":
        return cls({n: o for n, o in zip(output_names, outputs)
                    if ("key" in n) or ("value" in n)})


def _run_decoder_session(session, available: dict, cache,
                         logits_output: str):
    """ONNXDecoder's feed assembly (onnx/decoder.rs:48-110), shared by the
    causal and the conditional (seq2seq) decode paths: offer the tensors we
    have under their canonical names, feed exactly what the session
    declares, and resolve every remaining declared input from the KV cache
    via the reference's two name rewrites (``past -> present``, then
    ``past_key_values -> present``)."""
    feed = {}
    for name in (i.name for i in session.get_inputs()):
        if name in available:
            feed[name] = available[name]
            continue
        # decoder.rs:74-95: unknown inputs are cache tensors
        if cache is None:
            raise ValueError(f"{name} not found and cache was not provided.")
        v = cache.values.get(name.replace("past", "present"))
        if v is None:
            v = cache.values.get(name.replace("past_key_values", "present"))
        if v is None:
            found = sorted(cache.values)
            raise ValueError(f"{name} not found in cache ({found}).")
        feed[name] = v
    out_names = [o.name for o in session.get_outputs()]
    outputs = session.run(None, feed)
    logits = np.asarray(outputs[out_names.index(logits_output)],
                        dtype=np.float64)
    return logits, ONNXLayerCache.from_session_output(out_names, outputs)


class ONNXCausalDecoder:
    """Port of ONNXCausalGenerator's two-session decode contract
    (onnx/models.rs:218-287 construction, :372-425 dispatch) plus
    ONNXDecoder's feed assembly (onnx/decoder.rs:34-110): the initial step
    runs ``decoder_without_past`` over the full sequence; subsequent steps
    run ``decoder_with_past`` over ONLY the new token, feeding the cached
    keys/values back under the session's ``past*`` input names (resolved
    via the reference's two name rewrites, ``past -> present`` then
    ``past_key_values -> present``). When only one session is loaded the
    reference's fallbacks apply verbatim, including re-running the full
    sequence on the no-past session despite a cache being available.

    Like ONNXTokenClassifier, this wraps anything with the
    ``onnxruntime.InferenceSession`` surface (plus ``get_outputs``) — the
    contract test drives it with a mock session and pins that incremental
    cached decode is bit-identical to full re-decode."""

    CANONICAL = ("input_ids", "attention_mask", "position_ids")

    def __init__(self, decoder_without_past=None, decoder_with_past=None,
                 logits_output: str = "logits"):
        if decoder_without_past is None and decoder_with_past is None:
            raise ValueError(
                "Must provide at least one of `decoder_without_past_file`, "
                "`decoder_with_past_file`, both set to None")
        self.decoder_without_past = decoder_without_past
        self.decoder_with_past = decoder_with_past
        self.logits_output = logits_output
        self.use_past = decoder_with_past is not None

    def _run(self, session, input_ids: np.ndarray, attention_mask: np.ndarray,
             position_ids: np.ndarray,
             cache: "ONNXLayerCache | None"):
        available = {
            "input_ids": input_ids.astype(np.int64),
            "attention_mask": attention_mask.astype(np.int64),
            "position_ids": position_ids.astype(np.int64),
        }
        return _run_decoder_session(session, available, cache,
                                    self.logits_output)

    def forward(self, input_ids: np.ndarray, attention_mask: np.ndarray,
                cache: "ONNXLayerCache | None" = None,
                position_ids: np.ndarray | None = None):
        """-> (logits, new_cache). Dispatch port of onnx/models.rs:386-425.
        ``input_ids`` is the full sequence without cache, or only the new
        token(s) with one; position ids, when absent, increment from the
        past length (models.rs:299)."""
        b, t = input_ids.shape
        past_len = attention_mask.shape[1] - t
        if position_ids is None:
            position_ids = np.tile(np.arange(past_len, past_len + t,
                                             dtype=np.int64), (b, 1))
        if cache is None:
            if self.decoder_without_past is not None:
                return self._run(self.decoder_without_past, input_ids,
                                 attention_mask, position_ids, None)
            raise ValueError(
                "No decoder_without_cache loaded and no cache provided.")
        if self.decoder_with_past is not None:
            return self._run(self.decoder_with_past, input_ids,
                             attention_mask, position_ids, cache)
        # models.rs:406-415: cache given but no with-past session — the
        # caller must pass the FULL sequence again; the cache is unused
        return self._run(self.decoder_without_past, input_ids,
                         attention_mask, position_ids, None)


class ONNXEncoderOutput:
    """ONNXEncoderModelOutput (onnx/encoder.rs:212-226): every field is
    optional — the exported model decides which named outputs exist."""

    __slots__ = ("last_hidden_state", "logits", "start_logits", "end_logits")

    def __init__(self, last_hidden_state=None, logits=None,
                 start_logits=None, end_logits=None):
        self.last_hidden_state = last_hidden_state
        self.logits = logits
        self.start_logits = start_logits
        self.end_logits = end_logits


class ONNXEncoder:
    """Port of ONNXEncoder (onnx/encoder.rs:17-210): a session wrapper for
    pure-encoder models or the encoder half of a seq2seq stack. The forward
    offers the canonical tensor names the caller has (input_ids,
    attention_mask, token_type_ids, position_ids, input_embeds); a session
    input that was not offered raises the reference's "{name} not found but
    expected by model." error (encoder.rs:141-148 — the encoder has no
    cache to fall back to, unlike ONNXDecoder). Outputs are extracted by
    canonical name; absent names stay None."""

    CANONICAL = ("input_ids", "attention_mask", "token_type_ids",
                 "position_ids", "input_embeds")

    def __init__(self, session):
        self.session = session
        self.input_names = [i.name for i in session.get_inputs()]

    def forward(self, input_ids=None, attention_mask=None,
                token_type_ids=None, position_ids=None,
                input_embeds=None) -> ONNXEncoderOutput:
        offered = {
            "input_ids": input_ids,
            "attention_mask": attention_mask,
            "token_type_ids": token_type_ids,
            "position_ids": position_ids,
            "input_embeds": input_embeds,
        }
        feed = {}
        for name in self.input_names:
            v = offered.get(name)
            if v is None:
                raise ValueError(f"{name} not found but expected by model.")
            feed[name] = (np.asarray(v) if name == "input_embeds"
                          else np.asarray(v, dtype=np.int64))
        out_names = [o.name for o in self.session.get_outputs()]
        outputs = self.session.run(None, feed)
        by_name = dict(zip(out_names, outputs))
        return ONNXEncoderOutput(
            last_hidden_state=by_name.get("last_hidden_state"),
            logits=by_name.get("logits"),
            start_logits=by_name.get("start_logits"),
            end_logits=by_name.get("end_logits"))


class ONNXConditionalGenerator:
    """Port of the seq2seq ONNX generation stack, ONNXConditionalGenerator
    (onnx/models.rs:558-847 construction, :900-983 forward dispatch): an
    encoder session plus up to two decoder sessions whose feed carries
    ``encoder_hidden_states`` / ``encoder_attention_mask`` (the
    cross-attention inputs, onnx/decoder.rs:44-68) alongside the decoder
    ids and — on the with-past session — the cross+self-attention KV cache.

    Decode contract (mirrors prepare_inputs_for_generation,
    models.rs:1052-1080): the first step runs ``decoder_without_past`` over
    the full target prefix; when a with-past session exists, later steps
    feed ONLY the newest target token plus the returned cache; when it
    does not, the caller re-feeds the full target prefix and the cache is
    ignored (models.rs:963-974 fallback). Encoder states are computed once
    and reused every step (the generation loop passes them back in).

    Like the causal stack, wraps anything with the
    ``onnxruntime.InferenceSession`` surface; the contract test drives it
    with mock sessions and pins cached incremental decode bit-identical to
    full re-decode *with encoder states*."""

    def __init__(self, encoder_session, decoder_without_past=None,
                 decoder_with_past=None, logits_output: str = "logits"):
        if decoder_without_past is None and decoder_with_past is None:
            raise ValueError(
                "Must provide at least one of `decoder_without_past_file`, "
                "`decoder_with_past_file`, both set to None")
        self.encoder = ONNXEncoder(encoder_session)
        self.decoder_without_past = decoder_without_past
        self.decoder_with_past = decoder_with_past
        self.logits_output = logits_output
        # models.rs:846: use_past <=> a with-past session was provided
        self.use_past = decoder_with_past is not None

    def encode(self, input_ids: np.ndarray,
               attention_mask: np.ndarray | None = None) -> np.ndarray:
        """PrivateLanguageGenerator::encode (models.rs:1046-1050): one
        encoder pass -> last_hidden_state, computed once per generation."""
        out = self.encoder.forward(input_ids=input_ids,
                                   attention_mask=attention_mask)
        if out.last_hidden_state is None:
            raise ValueError(
                "`last_hidden_state` not found in ONNX model outputs.")
        return np.asarray(out.last_hidden_state)

    def _run_decoder(self, session, decoder_input_ids, attention_mask,
                     encoder_hidden_states, encoder_attention_mask, cache):
        available = {
            "input_ids": np.asarray(decoder_input_ids, dtype=np.int64),
            "encoder_hidden_states": np.asarray(encoder_hidden_states),
            "encoder_attention_mask": np.asarray(encoder_attention_mask,
                                                 dtype=np.int64),
        }
        if attention_mask is not None:
            available["attention_mask"] = np.asarray(attention_mask,
                                                     dtype=np.int64)
        return _run_decoder_session(session, available, cache,
                                    self.logits_output)

    def forward(self, input_ids=None, attention_mask=None,
                encoder_hidden_states=None, encoder_attention_mask=None,
                decoder_input_ids=None, cache: "ONNXLayerCache | None" = None):
        """-> (logits, new_cache). Dispatch port of models.rs:900-983:
        encoder states are computed from ``input_ids`` when not passed in
        (models.rs:906-918), the encoder attention mask defaults to ones
        over the states' (batch, source_len) (models.rs:920-931), then the
        decoder session is picked by (without_past, with_past, cache)."""
        if encoder_hidden_states is None:
            encoder_hidden_states = self.encode(input_ids,
                                                encoder_attention_mask)
        if encoder_attention_mask is None:
            b, s = np.asarray(encoder_hidden_states).shape[:2]
            encoder_attention_mask = np.ones((b, s), dtype=np.int64)
        if cache is None:
            if self.decoder_without_past is not None:
                return self._run_decoder(
                    self.decoder_without_past, decoder_input_ids,
                    attention_mask, encoder_hidden_states,
                    encoder_attention_mask, None)
            raise ValueError(
                "No decoder_without_cache loaded and no cache provided.")
        if self.decoder_with_past is not None:
            return self._run_decoder(
                self.decoder_with_past, decoder_input_ids, attention_mask,
                encoder_hidden_states, encoder_attention_mask, cache)
        # models.rs:963-974: cache given but no with-past session — the
        # caller must pass the FULL target prefix again; cache unused
        return self._run_decoder(
            self.decoder_without_past, decoder_input_ids, attention_mask,
            encoder_hidden_states, encoder_attention_mask, None)


def try_onnx_session(model_path: str):
    """Gated construction: returns an ``InferenceSession`` when onnxruntime
    is installed (a real cluster), None in this sandbox (verified absent).
    The pipeline then falls back to the stand-in — one config switch."""
    try:
        import onnxruntime  # type: ignore[import-not-found]
    except ImportError:
        return None
    return onnxruntime.InferenceSession(model_path)
