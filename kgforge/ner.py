"""Token-classification + NER pipeline math.

Pure-Python/numpy port of the reference's pipeline semantics (NOT its code):

- ``featurize`` + ``forward_spans`` <- TokenClassificationModel::predict
  (src/pipelines/token_classification.rs:957-1042): featurize a whole batch
  of texts into flat arrays (sliding windows and ownership flags as
  ``tokenization.generate_features`` builds them per text), micro-batch, pad
  to batch max, forward, softmax, argmax.
- ``predict_entity_lists`` decodes those arrays by mask arithmetic: owned
  non-special positions, sub-word groups and their score product, BIOES
  over the runs of non-O words; ``Entity`` objects are built last. The
  fused Spark eval (``pipeline.stage_ner_score``) calls it once per Arrow
  batch.
- ``predict_tokens`` decodes the same arrays into per-text ``Token`` lists
  (owned positions only), then optional sub-token consolidation.
- ``consolidate_tokens`` <- token_classification.rs:1137-1202 (score product
  with 1-score for disagreeing sub-tokens; label aggregation First/Last/Mode
  with the Mode tie-break by (count, max score), :1218-1232).
- ``consolidate_entities`` <- the BIOES EntityBuilder state machine
  (src/pipelines/ner.rs:324-457): flush on O; flush+start on B/S; I/E continue
  unless previous was E/S or the class changed; entity word = token texts
  joined by " ", score = product of token scores, offset = [first.begin,
  last.end].

The per-text ``consolidate_tokens`` / ``consolidate_entities`` are the
reference ``predict_entity_lists`` is tested against (bit-identical
scores); ``predict_pos`` uses them.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass
from functools import lru_cache

import numpy as np

from .config import NER_LABELS, PipelineConfig
from .encoders import StandInTokenClassifier, softmax
from .tokenization import (
    CLS_ID,
    MASK_CONTINUATION,
    MASK_SPECIAL,
    PAD_ID,
    SEP_ID,
)
from .workers import get_tokenizer


@dataclass(slots=True)
class Token:
    """Reference Token struct (token_classification.rs:150-171): what
    ``predict_tokens`` returns per owned position, for the per-text
    consolidation and POS tagging. The NER batch path
    (``predict_entity_lists``) builds none."""
    text: str
    score: float
    label: str
    label_index: int
    sentence: int
    index: int
    word_index: int
    begin: int   # char offsets (None-offset specials never reach output here)
    end: int
    mask: int


@dataclass(slots=True)
class Entity:
    """Reference Entity struct (ner.rs:138-149)."""
    word: str
    score: float
    label: str
    begin: int
    end: int


@dataclass(slots=True)
class Features:
    """Every sliding-window span of a batch of texts as flat arrays: span
    ``f`` (spans in text order, then window order) holds positions
    ``start[f]:start[f + 1]``. One span is one reference InputFeature
    (token_classification.rs:193-207)."""
    ids: np.ndarray      # int64 piece ids, [CLS] ... [SEP]
    begins: np.ndarray   # int64 char offsets, -1 on specials
    ends: np.ndarray     # int64, -1 on specials
    masks: np.ndarray    # int64 MASK_*
    owned: np.ndarray    # bool: the reference_feature flag
    column: np.ndarray   # int64 position within its span
    start: np.ndarray    # int64 (n_spans + 1,)
    example: np.ndarray  # int64 (n_spans,) text index of each span


def featurize(texts: list[str], cfg: PipelineConfig) -> Features:
    """``generate_features`` (token_classification.rs:808-928) for a whole
    batch at once, with the tokenizer ``cfg.tokenizer`` names. Only the
    tokenizer and the window loop run per text; special tokens, offsets and
    ownership flags are index arithmetic over the concatenated pieces."""
    tokenize = get_tokenizer(cfg.tokenizer).tokenize_with_offsets
    max_content, stride = cfg.max_content_length, cfg.doc_stride
    ids: list[int] = []
    begins: list[int] = []
    ends: list[int] = []
    masks: list[int] = []
    lo: list[int] = []       # window [lo, hi) over its text's pieces
    hi: list[int] = []
    total: list[int] = []
    example: list[int] = []
    base: list[int] = []     # offset of the window's text in the piece lists
    for ex, text in enumerate(texts):
        tok = tokenize(text)
        n, offset = len(tok.ids), len(ids)
        ids += tok.ids
        begins += tok.begins
        ends += tok.ends
        masks += tok.masks
        s = spans = 0
        while spans * stride < n:
            e = min(s + max_content, n)
            lo.append(s)
            hi.append(e)
            total.append(n)
            example.append(ex)
            base.append(offset)
            spans += 1
            if e == n:
                break
            s = e - stride
    lo_a = np.array(lo, dtype=np.int64)
    hi_a = np.array(hi, dtype=np.int64)
    width = hi_a - lo_a + 2                       # [CLS] content [SEP]
    start = np.zeros(len(lo) + 1, dtype=np.int64)
    np.cumsum(width, out=start[1:])
    span = np.repeat(np.arange(len(lo)), width)
    column = np.arange(start[-1]) - start[span]
    first = column == 0
    last = column == (width - 1)[span]
    special = first | last
    src = np.where(special, 0, (np.array(base, dtype=np.int64) + lo_a - 1)[span]
                   + column)

    def gather(values: list[int], fill: int) -> np.ndarray:
        out = np.array(values, dtype=np.int64)[src]
        out[special] = fill
        return out

    flat_ids = gather(ids, CLS_ID)
    flat_ids[last] = SEP_ID
    # get_reference_feature_flag (:885-928): an interior window edge disowns
    # doc_stride/2 pieces plus its special token (content is never special);
    # for an odd stride the start edge takes the extra middle piece
    half = stride // 2
    start_cut = np.where(lo_a > 0, stride - half + 1, 0)
    end_cut = np.where(hi_a < np.array(total, dtype=np.int64),
                       width - half - 1, width)
    return Features(
        ids=flat_ids, begins=gather(begins, -1), ends=gather(ends, -1),
        masks=gather(masks, MASK_SPECIAL),
        owned=(column >= start_cut[span]) & (column < end_cut[span]),
        column=column, start=start,
        example=np.array(example, dtype=np.int64))


def _piece_texts(feats: Features, texts: list[str], spans: range,
                 width: int) -> list[list[str]]:
    """Per-position piece texts (``##`` on continuations, "" on specials
    and padding) for encoders that set ``needs_token_texts``."""
    out = []
    for f in spans:
        text = texts[feats.example[f]]
        p0, p1 = feats.start[f], feats.start[f + 1]
        row = [("##" if m == MASK_CONTINUATION else "") + text[b:e]
               if b >= 0 else ""
               for b, e, m in zip(feats.begins[p0:p1].tolist(),
                                  feats.ends[p0:p1].tolist(),
                                  feats.masks[p0:p1].tolist())]
        out.append(row + [""] * (width - len(row)))
    return out


def forward_spans(feats: Features, texts: list[str], encoder,
                  cfg: PipelineConfig) -> tuple[np.ndarray, np.ndarray]:
    """Micro-batches of ``cfg.batch_size`` spans, each padded to its longest
    span (pad_features, token_classification.rs:1044-1090), through
    ``encoder.forward``, softmax and argmax (:991-1000). -> (argmax label
    index, its softmax score) per flat position."""
    n_spans = len(feats.example)
    label = np.zeros(len(feats.ids), dtype=np.int64)
    score = np.zeros(len(feats.ids), dtype=np.float64)
    needs_texts = getattr(encoder, "needs_token_texts", False)
    for f0 in range(0, n_spans, cfg.batch_size):
        f1 = min(f0 + cfg.batch_size, n_spans)
        p0, p1 = feats.start[f0], feats.start[f1]
        width = np.diff(feats.start[f0:f1 + 1])
        rows = np.repeat(np.arange(f1 - f0), width)
        cols = feats.column[p0:p1]
        shape = (f1 - f0, int(width.max()))
        ids = np.full(shape, PAD_ID, dtype=np.int64)
        ids[rows, cols] = feats.ids[p0:p1]
        attn = np.zeros(shape, dtype=np.int64)
        attn[rows, cols] = 1
        cont = np.zeros(shape, dtype=np.int64)
        cont[rows, cols] = feats.masks[p0:p1] == MASK_CONTINUATION
        piece_texts = (_piece_texts(feats, texts, range(f0, f1), shape[1])
                       if needs_texts else None)
        scores = softmax(encoder.forward(ids, attn, cont, piece_texts), axis=-1)
        li = np.argmax(scores, axis=-1)[rows, cols]
        label[p0:p1] = li
        score[p0:p1] = scores[rows, cols, li]
    return label, score


def _featurize_forward(texts: list[str], encoder, cfg: PipelineConfig
                       ) -> tuple[Features, np.ndarray, np.ndarray]:
    kind = cfg.tokenizer
    enc_kind = getattr(encoder, "tokenizer_kind", None)
    if enc_kind is not None and enc_kind != kind:
        # the gazetteer is keyed on ITS tokenizer's pieces; featurizing with
        # a different one silently misses every entity (all-O output) —
        # refuse loudly instead
        raise ValueError(
            f"encoder gazetteer keyed for tokenizer {enc_kind!r} but "
            f"cfg.tokenizer={kind!r}")
    feats = featurize(texts, cfg)
    return (feats, *forward_spans(feats, texts, encoder, cfg))


def predict_tokens(
    texts: list[str],
    encoder: StandInTokenClassifier,
    cfg: PipelineConfig,
    consolidate_sub_tokens: bool = True,
    return_special: bool = False,
    labels: list[str] | None = None,
) -> list[list[Token]]:
    """Port of TokenClassificationModel::predict (token_classification.rs:957-1042)."""
    labels = labels or NER_LABELS
    feats, label, score = _featurize_forward(texts, encoder, cfg)
    keep = feats.owned if return_special else (
        feats.owned & (feats.masks != MASK_SPECIAL))
    sel = np.flatnonzero(keep)
    span = np.repeat(np.arange(len(feats.example)), np.diff(feats.start))[sel]
    # word_index counts the word-initial kept positions of the span so far
    # (the reference restarts it in every span)
    initial = feats.masks[sel] != MASK_CONTINUATION
    seen = np.cumsum(initial)
    span_first = np.ones(len(sel), dtype=bool)
    span_first[1:] = span[1:] != span[:-1]
    word_index = seen - np.maximum.accumulate(
        np.where(span_first, seen - initial, 0))

    example_tokens: list[list[Token]] = [[] for _ in texts]
    for ex, pos, wi, li, sc, begin, end, mask in zip(
            feats.example[span].tolist(), feats.column[sel].tolist(),
            word_index.tolist(), label[sel].tolist(), score[sel].tolist(),
            feats.begins[sel].tolist(), feats.ends[sel].tolist(),
            feats.masks[sel].tolist()):
        text = texts[ex]
        example_tokens[ex].append(Token(
            # decode_token: char-offset slice of the original string
            # (token_classification.rs:1108-1117), end clamped to len
            text=text[begin:min(end, len(text))] if begin >= 0 else "",
            score=sc, label=labels[li], label_index=li, sentence=ex,
            index=pos, word_index=wi, begin=begin, end=end, mask=mask))
    if consolidate_sub_tokens:
        return [consolidate_tokens(toks, cfg.label_aggregation) for toks in example_tokens]
    return example_tokens


def _word_labels(aggregation: str, label: np.ndarray, score: np.ndarray,
                 word_of: np.ndarray, word_first: np.ndarray,
                 n_labels: int) -> np.ndarray:
    """``_consolidate_label`` for every word at once."""
    if aggregation == "first":
        return label[word_first]
    if aggregation == "last":
        return label[np.append(word_first[1:], len(label)) - 1]
    # mode: max by (count, max score); a full tie goes to the label seen
    # first, as max() over the insertion-ordered stats dict does
    n_words = len(word_first)
    key = word_of * n_labels + label
    count = np.bincount(key, minlength=n_words * n_labels).reshape(n_words, n_labels)
    best = np.full(n_words * n_labels, -np.inf)
    np.maximum.at(best, key, score)
    seen = np.full(n_words * n_labels, len(key))
    np.minimum.at(seen, key, np.arange(len(key)))
    tied = count == count.max(axis=1, keepdims=True)
    best = np.where(tied, best.reshape(n_words, n_labels), -np.inf)
    tied &= best == best.max(axis=1, keepdims=True)
    return np.where(tied, seen.reshape(n_words, n_labels), len(key)).argmin(axis=1)


def predict_entity_lists(texts: list[str], encoder,
                         cfg: PipelineConfig) -> list[list[Entity]]:
    """NER entities per text: the same lists as ``consolidate_entities(t)``
    for ``t`` in ``predict_tokens(texts, encoder, cfg)``, decoded on the
    flat arrays instead of ``Token`` objects. The owned non-special pieces
    form words (a word starts at every non-continuation piece; a text's
    first owned piece is always one); a word's label follows
    ``cfg.label_aggregation`` and its score is the ``consolidate_tokens``
    product, one ``np.multiply.reduceat``. The BIOES machine then walks
    only the non-O words, and ``Entity`` objects are built last."""
    aggregation = cfg.label_aggregation
    if aggregation not in ("first", "last", "mode"):
        raise ValueError(f"unknown label aggregation {aggregation!r}")
    labels = NER_LABELS
    feats, label, score = _featurize_forward(texts, encoder, cfg)
    sel = np.flatnonzero(feats.owned & (feats.masks != MASK_SPECIAL))
    entities: list[list[Entity]] = [[] for _ in texts]
    if not len(sel):
        return entities
    label, score = label[sel], score[sel]
    starts = feats.masks[sel] != MASK_CONTINUATION
    word_first = np.flatnonzero(starts)
    word_of = np.cumsum(starts) - 1
    word_label = _word_labels(aggregation, label, score, word_of, word_first,
                              len(labels))
    word_score = np.multiply.reduceat(
        np.where(label == word_label[word_of], score, 1.0 - score), word_first)

    # BIOES over the runs of non-O words; _tag_of raises on an invalid tag
    # as consolidate_entities does
    tags, classes = {}, {}
    inside = np.zeros(len(labels), dtype=bool)
    for li in np.unique(word_label).tolist():
        tags[li], classes[li] = _tag_of(labels[li]), _class_of(labels[li])
        inside[li] = tags[li] != "O"
    word_example = np.repeat(feats.example, np.diff(feats.start))[sel[word_first]]
    chunk = np.flatnonzero(inside[word_label])
    spans: list[tuple[int, int, str]] = []   # (first word, end word, class)
    opened: tuple[int, str, str] | None = None
    prev = prev_ex = -1
    for w, li, ex in zip(chunk.tolist(), word_label[chunk].tolist(),
                         word_example[chunk].tolist()):
        tag, cls = tags[li], classes[li]
        if opened is not None and (
                w != prev + 1 or ex != prev_ex or tag in ("B", "S")
                or opened[1] in ("E", "S") or opened[2] != cls):
            spans.append((opened[0], prev + 1, opened[2]))
            opened = None
        if opened is None:
            opened = (w, tag, cls)
        prev, prev_ex = w, ex
    if opened is not None:
        spans.append((opened[0], prev + 1, opened[2]))
    if not spans:
        return entities

    bounds = np.array([(s, e) for s, e, _ in spans], dtype=np.int64).ravel()
    ent_scores = np.multiply.reduceat(np.append(word_score, 1.0), bounds)[::2]
    begins, ends = feats.begins[sel].tolist(), feats.ends[sel].tolist()
    starts_l = starts.tolist()
    word_first_l = np.append(word_first, len(sel)).tolist()
    for (w0, w1, cls), sc in zip(spans, ent_scores.tolist()):
        ex = int(word_example[w0])
        text = texts[ex]
        tlen = len(text)
        p0, p1 = word_first_l[w0], word_first_l[w1]
        # words joined by " ", a word's pieces concatenated (ner.rs:404-408)
        word = "".join((" " if starts_l[p] and p > p0 else "")
                       + text[begins[p]:min(ends[p], tlen)]
                       for p in range(p0, p1))
        entities[ex].append(Entity(word=word, score=sc, label=cls,
                                   begin=begins[p0], end=ends[p1 - 1]))
    return entities


def predict_pos(texts: list[str], cfg: PipelineConfig, seed: int = 42) -> list[list[dict]]:
    """POS tagging (reference: POSModel::predict, pos_tagging.rs:262-290):
    identical machinery with a POS head, return_special=False, word-level
    consolidation; emits POSTag{word, score, label} per word."""
    from .encoders import StandInPOSTagger
    from .textops import POS_LABELS

    tagger = StandInPOSTagger(seed=seed)
    token_lists = predict_tokens(
        texts, tagger, cfg, consolidate_sub_tokens=True,
        return_special=False, labels=POS_LABELS,
    )
    return [
        [{"word": t.text, "score": t.score, "label": t.label,
          "begin": t.begin, "end": t.end} for t in toks]
        for toks in token_lists
    ]


def _consolidate_label(group: list[Token], aggregation) -> tuple[int, str]:
    """Label aggregation (token_classification.rs:1204-1232). A callable is
    the Custom variant (LabelAggregationOption::Custom(fn), :221): it
    receives the sub-token group and returns (label_index, label)."""
    if callable(aggregation):
        return aggregation(group)
    if aggregation == "first":
        return group[0].label_index, group[0].label
    if aggregation == "last":
        return group[-1].label_index, group[-1].label
    if aggregation == "mode":
        stats: dict[tuple[int, str], list[float]] = defaultdict(lambda: [0, 0.0])
        for t in group:
            s = stats[(t.label_index, t.label)]
            s[0] += 1
            s[1] = max(s[1], t.score)
        # max by (count, max score) — the reference's exact tie-break (:1218-1232)
        (label_index, label), _ = max(stats.items(), key=lambda kv: (kv[1][0], kv[1][1]))
        return label_index, label
    raise ValueError(f"unknown label aggregation {aggregation!r}")


def consolidate_tokens(tokens: list[Token], aggregation="first") -> list[Token]:
    """Merge continuation sub-words into word-level tokens
    (token_classification.rs:1137-1202). Groups are a word-initial token plus
    its following MASK_CONTINUATION tokens; score is the product of
    (score if sub-label agrees else 1 - score) (:1174-1182).

    Single forward pass: the overwhelming majority of groups are
    singletons, so the previous one-list-per-token grouping allocated a
    list per token for nothing (measured hot). A group STARTS at any
    non-continuation token — or at a continuation with no open group,
    i.e. stream position 0, exactly the old `and groups` guard."""
    out: list[Token] = []
    n = len(tokens)
    i = 0
    while i < n:
        j = i + 1
        while j < n and tokens[j].mask == MASK_CONTINUATION:
            j += 1
        if j == i + 1:
            out.append(tokens[i])
            i = j
            continue
        group = tokens[i:j]
        label_index, label = _consolidate_label(group, aggregation)
        score = 1.0
        text = ""
        for t in group:
            text += t.text
            score *= t.score if t.label_index == label_index else 1.0 - t.score
        first, last = group[0], group[-1]
        out.append(Token(
            text=text, score=score, label=label, label_index=label_index,
            sentence=first.sentence, index=first.index,
            word_index=first.word_index, begin=first.begin, end=last.end,
            mask=0,
        ))
        i = j
    return out


def predict_entities(tokens: list[Token]) -> list[Entity]:
    """NERModel::predict post-processing: drop 'O' (ner.rs:253-273)."""
    return [
        Entity(word=t.text, score=t.score, label=_class_of(t.label),
               begin=t.begin, end=t.end)
        for t in tokens if t.label != "O"
    ]


@lru_cache(maxsize=4096)
def _tag_of(label: str) -> str:
    # label vocabulary is tiny and fixed; the split ran once per decoded
    # token (57k calls per 600 pages) before caching
    tag = label.split("-")[0]
    if tag not in ("B", "I", "O", "E", "S"):
        raise ValueError(f"Invalid tag encountered for label {label!r}")
    return tag


@lru_cache(maxsize=4096)
def _class_of(label: str) -> str:
    parts = label.split("-")
    return parts[1] if len(parts) > 1 else ""


def consolidate_entities(tokens: list[Token]) -> list[Entity]:
    """BIOES chunking state machine — port of EntityBuilder
    (ner.rs:355-426) including every transition branch:
      O            -> flush
      B / S        -> flush, then start new
      I / E        -> continue, UNLESS the open entity's STARTING tag was E
                      or S or the class changed (then flush + start new); if
                      no open entity, start new. NB the reference does not
                      update previous_node on continuation (ner.rs:381-399),
                      so the comparison is against the tag that OPENED the
                      entity, not the immediately preceding token's tag.
    Entity word joins token texts with " " (ner.rs:404-408); score is the
    product of token scores (ner.rs:409)."""
    entities: list[Entity] = []
    open_entity: tuple[int, str, str] | None = None  # (start position, tag, class)

    def flush(position: int) -> None:
        nonlocal open_entity
        if open_entity is not None:
            start, _tag, cls = open_entity
            span = tokens[start:position]
            if span:
                entities.append(Entity(
                    word=" ".join(t.text for t in span),
                    score=float(np.prod([t.score for t in span])),
                    label=cls,
                    begin=span[0].begin,
                    end=span[-1].end,
                ))
        open_entity = None

    for position, token in enumerate(tokens):
        tag = _tag_of(token.label)
        cls = _class_of(token.label)
        if tag == "O":
            flush(position)
        elif tag in ("B", "S"):
            flush(position)
            open_entity = (position, tag, cls)
        else:  # I or E
            if open_entity is not None:
                _, prev_tag, prev_cls = open_entity
                if prev_tag in ("E", "S") or prev_cls != cls:
                    flush(position)
                    open_entity = (position, tag, cls)
                # else: continue — reference keeps previous_node unchanged
            else:
                open_entity = (position, tag, cls)
    flush(len(tokens))
    return entities
