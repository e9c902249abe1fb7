"""The NER batch path (``ner.featurize`` / ``forward_spans`` /
``predict_entity_lists``) against the per-example reference:
``generate_features`` for the flat spans, and ``predict_tokens`` ->
``consolidate_entities`` for the entity lists, with identical score bits.
Also the vectorized continuation inheritance of the stand-in classifier
against the column loop it replaced."""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from kgforge import ner
from kgforge.config import NER_LABELS, PipelineConfig
from kgforge.encoders import StandInTokenClassifier, _hash_noise
from kgforge.ner import (
    consolidate_entities,
    featurize,
    predict_entity_lists,
    predict_tokens,
)
from kgforge.synth import build_gazetteer
from kgforge.tokenization import generate_features
from kgforge.workers import get_token_classifier, get_tokenizer

TOKENIZERS = ["chunk", "wordpiece", "bpe", "unigram"]
BIOES_LABELS = ["O", "B-PER", "I-PER", "E-PER", "S-PER",
                "B-ORG", "I-ORG", "E-ORG", "S-ORG"]
WORDS = ["Amy", "Silva", "Acme", "Corp", "Paris", "São", "Paulo", "Tromsø",
         "Zoë", "Kowalski", "lives", "in", "works", "for", "the",
         "internationalization", "extraordinarily", "a", ",", ".", "!",
         "—", "🙂", "naïve", "x1y2z3w4v5"]

sentence = st.lists(st.sampled_from(WORDS), max_size=30).map(" ".join)
text = st.one_of(st.just(""), st.just("?!... ,"), st.just("   "), sentence)
texts_st = st.lists(text, max_size=6)


class _NoisyHead:
    """One-hot logits of height 1 or 2 on a label hashed from (piece id,
    column): labels vary piece by piece (the sub-words of one word
    disagree, so first/last/mode differ, and every BIOES transition
    occurs) and scores take two values (full ties for the mode
    tie-break)."""

    def forward(self, ids, attn, cont=None, texts=None):
        noise = _hash_noise(ids * 131 + np.arange(ids.shape[1]), 2, 7)
        label = (noise[..., 0] * 90).astype(np.int64) % len(NER_LABELS)
        logits = np.zeros(ids.shape + (len(NER_LABELS),))
        np.put_along_axis(logits, label[..., None],
                          1.0 + (noise[..., 1:] >= 0.05), axis=-1)
        return logits


def _key(entity_lists):
    return [[(e.word, e.label, e.begin, e.end, e.score.hex()) for e in ents]
            for ents in entity_lists]


@given(texts=texts_st, kind=st.sampled_from(TOKENIZERS),
       aggregation=st.sampled_from(["first", "last", "mode"]),
       max_length=st.sampled_from([3, 5, 8, 11, 16, 64]),
       batch_size=st.sampled_from([1, 2, 3, 64]),
       noisy=st.booleans(), bioes=st.booleans())
@settings(max_examples=300, deadline=None)
def test_batch_entities_equal_per_example_reference(
        texts, kind, aggregation, max_length, batch_size, noisy, bioes):
    cfg = PipelineConfig(tokenizer=kind, label_aggregation=aggregation,
                         max_length=max_length, batch_size=batch_size)
    enc = _NoisyHead() if noisy else get_token_classifier(cfg.seed, kind)
    labels = BIOES_LABELS if bioes else NER_LABELS
    want = [consolidate_entities(toks)
            for toks in predict_tokens(texts, enc, cfg, labels=labels)]
    with mock.patch.object(ner, "NER_LABELS", labels):
        got = predict_entity_lists(texts, enc, cfg)
    assert _key(got) == _key(want)


def test_batch_entities_windowed_gazetteer_text():
    # a long text in short windows, split across micro-batches of 2; 12 and
    # 20 have an odd doc_stride, where a twice-owned overlap piece once
    # gave "Amy Silvaa" and "São Paul Paulo"
    text = ("filler words here and there. Amy Silva works for Acme Corp "
            "in São Paulo. ") * 6
    for max_length in (12, 16, 20):
        cfg = PipelineConfig(max_length=max_length, batch_size=2)
        enc = get_token_classifier(cfg.seed, cfg.tokenizer)
        assert len(generate_features(text, 0, max_length)) > 2
        want = [consolidate_entities(t)
                for t in predict_tokens([text], enc, cfg)]
        got = predict_entity_lists([text], enc, cfg)
        assert _key(got) == _key(want)
        assert sum(e.word == "Amy Silva" for e in got[0]) == 6
        assert ({e.word for e in got[0]}
                == {"Amy Silva", "Acme Corp", "São Paulo"}), max_length


@given(texts=texts_st, kind=st.sampled_from(TOKENIZERS),
       max_length=st.sampled_from([3, 5, 8, 11, 64]))
@settings(max_examples=100, deadline=None)
def test_featurize_matches_generate_features(texts, kind, max_length):
    cfg = PipelineConfig(tokenizer=kind, max_length=max_length)
    tokenizer = get_tokenizer(kind)
    feats = featurize(texts, cfg)
    want = [f for i, t in enumerate(texts)
            for f in generate_features(t, i, cfg.max_length,
                                       cfg.n_special_tokens, tokenizer)]
    assert feats.example.tolist() == [f.example_index for f in want]
    assert len(feats.start) == len(want) + 1
    for k, f in enumerate(want):
        span = slice(feats.start[k], feats.start[k + 1])
        assert feats.ids[span].tolist() == f.input_ids
        assert feats.begins[span].tolist() == f.begins
        assert feats.ends[span].tolist() == f.ends
        assert feats.masks[span].tolist() == f.masks
        assert feats.owned[span].tolist() == f.reference_feature
        assert feats.column[span].tolist() == list(range(len(f.input_ids)))


def test_batch_invalid_bioes_tag_raises_like_reference():
    enc = get_token_classifier(42, "chunk")
    bad = ["O", "X-PER"] + NER_LABELS[2:]
    texts = ["Amy Silva lives in Paris."]
    with pytest.raises(ValueError, match="Invalid tag"):
        consolidate_entities(predict_tokens(texts, enc, PipelineConfig(),
                                            labels=bad)[0])
    with mock.patch.object(ner, "NER_LABELS", bad):
        with pytest.raises(ValueError, match="Invalid tag"):
            predict_entity_lists(texts, enc, PipelineConfig())


def test_batch_unknown_aggregation_raises():
    enc = get_token_classifier(42, "chunk")
    with pytest.raises(ValueError, match="unknown label aggregation"):
        predict_entity_lists(["Amy lives in Paris."], enc,
                             PipelineConfig(label_aggregation="median"))


def test_batch_path_builds_no_tokens():
    enc = get_token_classifier(42, "chunk")
    with mock.patch.object(ner, "Token", side_effect=AssertionError("Token")):
        got = predict_entity_lists(["Amy Silva works for Acme Corp."], enc,
                                   PipelineConfig())
    assert [(e.word, e.label) for e in got[0]] == [("Amy Silva", "PER"),
                                                   ("Acme Corp", "ORG")]


def _column_loop_forward(clf, ids, attn, cont):
    """StandInTokenClassifier.forward with its original per-column loop."""
    b, t = ids.shape
    logits = _hash_noise(ids, clf.n_labels, clf.seed)
    label_ids = clf._lookup(ids)
    for col in range(1, t):
        inherit = cont[:, col].astype(bool)
        label_ids[inherit, col] = label_ids[inherit, col - 1]
    rows = np.arange(b)[:, None], np.arange(t)[None, :]
    logits[rows[0], rows[1], label_ids] += np.where(label_ids == 0, 0, 8.0)
    logits[..., 0] += np.where(label_ids == 0, 6.0, 0.0)
    return logits


@given(seed=st.integers(0, 10_000), b=st.integers(1, 5), t=st.integers(1, 12))
@settings(max_examples=100, deadline=None)
def test_continuation_inheritance_matches_column_loop(seed, b, t):
    gaz = build_gazetteer()
    clf = StandInTokenClassifier(gaz)
    rng = np.random.default_rng(seed)
    keys = np.array(sorted(gaz), dtype=np.int64)
    ids = np.where(rng.random((b, t)) < 0.7, rng.choice(keys, (b, t)),
                   rng.integers(8, 1 << 31, (b, t)))
    attn = np.ones((b, t), dtype=np.int64)
    cont = (rng.random((b, t)) < 0.5).astype(np.int64)
    cont[0, 0] = 1            # the loop never touches column 0
    got = clf.forward(ids, attn, cont)
    want = _column_loop_forward(clf, ids, attn, cont)
    assert got.tobytes() == want.tobytes()
