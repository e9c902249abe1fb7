"""Sliding-window featurization semantics, ported branch-for-branch from the
reference (generate_features token_classification.rs:808-883; ownership flags
:885-928)."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings, strategies as st

from kgforge.config import PipelineConfig
from kgforge.ner import featurize
from kgforge.tokenization import (
    _WORD_RE,
    MASK_CONTINUATION,
    MASK_NONE,
    MASK_SPECIAL,
    generate_features,
    split_sentences,
    token_id,
    tokenize_with_offsets,
)
from kgforge.workers import get_tokenizer


def test_offsets_are_char_exact_multibyte():
    text = "Amélie Durand lives in São Paulo."
    tok = tokenize_with_offsets(text)
    for piece, b, e in zip(tok.pieces, tok.begins, tok.ends):
        assert text[b:e] == piece.removeprefix("##")


def test_subword_split_and_masks():
    tok = tokenize_with_offsets("Industries")
    assert tok.pieces == ["Indu", "##stri", "##es"]
    assert tok.masks == [0, 1, 1]


def test_short_text_single_span_all_owned():
    feats = generate_features("Amy lives in Paris.", 0, max_length=64)
    assert len(feats) == 1
    f = feats[0]
    assert f.masks[0] == MASK_SPECIAL and f.masks[-1] == MASK_SPECIAL
    assert all(f.reference_feature), "single span owns every position"


def test_window_stride_and_loop_guard():
    # 100 single-piece words; max_length=32 -> content 30, stride 8
    text = " ".join(["word"] * 100)
    feats = generate_features(text, 0, max_length=32)
    # reference loop: start_{k+1} = end_k - stride
    starts = []
    start = 0
    while len(starts) * 8 < 100:
        starts.append(start)
        end = min(start + 30, 100)
        if end == 100:
            break
        start = end - 8
    assert len(feats) == len(starts)


# 12 and 20 have an odd doc_stride (3, 5): the overlap's middle piece is
# where a cutoff of doc_stride//2 on both edges owned a piece twice
EXACT_COVER_LENGTHS = (12, 16, 20, 32)


def _owned_pieces(text: str, max_length: int) -> tuple[list, list]:
    """(begin, end) of every owned content piece, from ``generate_features``
    and from the batch path ``ner.featurize``."""
    ref = [(f.begins[pos], f.ends[pos])
           for f in generate_features(text, 0, max_length=max_length)
           for pos, flag in enumerate(f.reference_feature)
           if flag and f.masks[pos] != MASK_SPECIAL]
    feats = featurize([text], PipelineConfig(max_length=max_length))
    owned = feats.owned & (feats.masks != MASK_SPECIAL)
    batch = list(zip(feats.begins[owned].tolist(), feats.ends[owned].tolist()))
    return ref, batch


def test_ownership_exact_cover():
    """Every content token is owned by exactly one span (the invariant the
    reference's start/end cutoffs exist to guarantee), on both paths."""
    for max_length in EXACT_COVER_LENGTHS:
        for n_words in (1, 5, 29, 30, 31, 60, 100, 250):
            text = " ".join(f"w{i}" for i in range(n_words))
            tok = tokenize_with_offsets(text)
            for owned in _owned_pieces(text, max_length):
                assert sorted(owned) == list(zip(tok.begins, tok.ends)), (
                    max_length, n_words)


@settings(max_examples=50, deadline=None)
@given(text=st.text(alphabet=st.characters(codec="utf-8",
                                           exclude_categories=("Cs",)),
                    max_size=400),
       max_length=st.sampled_from(EXACT_COVER_LENGTHS))
def test_ownership_exact_cover_property(text, max_length):
    tok = tokenize_with_offsets(text)
    for owned in _owned_pieces(text, max_length):
        assert sorted(owned) == list(zip(tok.begins, tok.ends))


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
               max_size=300))
def test_piece_count_equals_tokenizer_length(text):
    """The length bucketing in stage_extract_sentences counts pieces
    without tokenizing; the count must be the chunk tokenizer's."""
    from kgforge.pipeline import _piece_count
    assert _piece_count(text) == len(tokenize_with_offsets(text).ids)


def test_empty_text_no_spans():
    assert generate_features("", 0, max_length=32) == []


def test_sentence_split_offsets_compose():
    text = "First one. Second two!\nthird line without period"
    sents = split_sentences(text)
    for begin, sent in sents:
        assert text[begin:begin + len(sent)] == sent


# --------------------------------------------------------------------------
# the one tokenize_with_offsets contract, shared by every tokenizer family
# --------------------------------------------------------------------------

_contract_texts = st.text(
    alphabet=st.one_of(
        st.characters(codec="utf-8", exclude_categories=("Cs",)),
        # combining marks, "_", digits, non-ASCII letters, spaces
        st.sampled_from("\u0301\u0308\u0327_0123456789 éøßİ日語 .-")),
    max_size=200)


@pytest.mark.parametrize("kind", ["chunk", "wordpiece", "bpe", "unigram"])
@settings(max_examples=150, deadline=None)
@given(text=_contract_texts)
@example(text="")
@example(text="e\u0301 __init__ 2024 İstanbul")
def test_tokenizer_contract(kind, text):
    """Equal list lengths; ids are token_id of the pieces; each _WORD_RE
    word is one MASK_NONE piece followed by MASK_CONTINUATION pieces, each
    inside the word's span."""
    t = get_tokenizer(kind).tokenize_with_offsets(text)
    n = len(t.pieces)
    assert len(t.ids) == len(t.begins) == len(t.ends) == len(t.masks) == n
    assert t.ids == [token_id(p) for p in t.pieces]
    k = 0
    for m in _WORD_RE.finditer(text):
        assert k < n and t.masks[k] == MASK_NONE, (m.group(), k)
        first = k
        k += 1
        while k < n and t.masks[k] == MASK_CONTINUATION:
            k += 1
        for j in range(first, k):
            assert m.start() <= t.begins[j] < t.ends[j] <= m.end()
    assert k == n


def test_chunk_gazetteer_keys_on_first_four_chars():
    """The chunk gazetteer keys each catalog word on its first 4 chars,
    the chunk tokenizer's initial piece."""
    from kgforge.config import NER_LABEL2ID
    from kgforge.synth import build_gazetteer, entity_catalog
    want: dict[int, int] = {}
    for ent in entity_catalog():
        for surface in {ent.canonical, *ent.aliases}:
            for wi, word in enumerate(surface.split()):
                tag = "B" if wi == 0 else "I"
                want.setdefault(token_id(word[:4]),
                                NER_LABEL2ID[f"{tag}-{ent.etype}"])
    assert build_gazetteer() == want


# --------------------------------------------------------------------------
# WordPiece tokenizer (longest-match-first, ##, lower_case/strip_accents —
# the flags of token_classification.rs:237-242)
# --------------------------------------------------------------------------

from kgforge.tokenization import WordPieceTokenizer


def test_wordpiece_longest_match_first():
    tok = WordPieceTokenizer(
        {"un", "##aff", "##able", "##a", "##ff", "##ble", "unaff"})
    t = tok.tokenize_with_offsets("unaffable")
    # greedy: "unaffable" not in vocab -> "unaff" (longest prefix), then
    # longest continuation matches
    assert t.pieces == ["unaff", "##able"]
    assert t.masks == [MASK_NONE, MASK_CONTINUATION]
    assert t.begins == [0, 5] and t.ends == [5, 9]


def test_wordpiece_unknown_word_is_single_unk_spanning_word():
    tok = WordPieceTokenizer({"known"})
    t = tok.tokenize_with_offsets("known mystery known")
    assert t.pieces == ["known", "[UNK]", "known"]
    assert t.begins[1] == 6 and t.ends[1] == 13     # the whole word's span
    assert t.masks[1] == MASK_NONE
    # partial match then dead end -> STILL whole-word UNK (BERT rule)
    tok2 = WordPieceTokenizer({"myst"})
    assert tok2.tokenize_with_offsets("mystery").pieces == ["[UNK]"]


def test_wordpiece_max_input_chars_per_word():
    tok = WordPieceTokenizer({"a", "##a"}, max_input_chars_per_word=5)
    assert tok.tokenize_with_offsets("aaaaa").pieces == ["a"] + ["##a"] * 4
    assert tok.tokenize_with_offsets("aaaaaa").pieces == ["[UNK]"]


def test_wordpiece_lower_case_offsets_point_at_original():
    tok = WordPieceTokenizer({"hello", "world"}, lower_case=True)
    t = tok.tokenize_with_offsets("HeLLo WORLD")
    assert t.pieces == ["hello", "world"]
    assert [(b, e) for b, e in zip(t.begins, t.ends)] == [(0, 5), (6, 11)]
    assert "HeLLo WORLD"[t.begins[1]:t.ends[1]] == "WORLD"


def test_wordpiece_strip_accents_char_exact():
    # strip_accents defaults to lower_case (BERT BasicTokenizer; the
    # reference's Option<bool> None)
    tok = WordPieceTokenizer({"amelie", "sao", "paulo"}, lower_case=True)
    text = "Amélie São"
    t = tok.tokenize_with_offsets(text)
    assert t.pieces == ["amelie", "sao"]
    assert text[t.begins[0]:t.ends[0]] == "Amélie"
    assert text[t.begins[1]:t.ends[1]] == "São"
    # explicit strip_accents=False keeps accents (no match here)
    tok2 = WordPieceTokenizer({"amelie"}, lower_case=True,
                              strip_accents=False)
    assert tok2.tokenize_with_offsets("Amélie").pieces == ["[UNK]"]
    # strip_accents=True without lowercasing
    tok3 = WordPieceTokenizer({"Amelie"}, lower_case=False,
                              strip_accents=True)
    assert tok3.tokenize_with_offsets("Amélie").pieces == ["Amelie"]


def test_wordpiece_from_words_char_fallback():
    tok = WordPieceTokenizer.from_words(["Vandelay", "Holdings"])
    # OOV word over in-vocab chars degrades to per-char pieces, not [UNK]
    t = tok.tokenize_with_offsets("Vandelay dealing")
    assert t.pieces == ["Vandelay", "d", "##e", "##a", "##l", "##i",
                        "##n", "##g"]
    assert t.masks == [MASK_NONE, MASK_NONE] + [MASK_CONTINUATION] * 6
    # a word containing a char outside the vocab char set is still [UNK]
    assert tok.tokenize_with_offsets("quartz").pieces == ["[UNK]"]


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.text(alphabet="aAbé日🙂 ", min_size=1, max_size=8), min_size=1,
    max_size=6))
def test_wordpiece_offset_exactness_property(words):
    """For any multibyte text tokenized with a vocab built from its own
    words: every piece's [begin, end) slice of the ORIGINAL text normalizes
    to the piece text (sans ##); pieces tile each word contiguously."""
    import re
    import unicodedata
    text = " ".join(words)
    word_spans = [(m.start(), m.end()) for m in
                  re.finditer(r"\w+|[^\w\s]", text, re.UNICODE)]
    toks = [text[b:e] for b, e in word_spans]
    tok = WordPieceTokenizer.from_words(toks, lower_case=True)

    def norm(s):
        return "".join(d for ch in s.lower()
                       for d in unicodedata.normalize("NFD", ch)
                       if unicodedata.category(d) != "Mn")

    t = tok.tokenize_with_offsets(text)
    if not word_spans:          # all-whitespace text: nothing to tokenize
        assert t.pieces == []
        return
    assert t.pieces and "[UNK]" not in t.pieces
    for piece, b, e in zip(t.pieces, t.begins, t.ends):
        assert norm(text[b:e]) == piece.removeprefix("##")
    # contiguous tiling: word-initial pieces start at word starts; each
    # continuation starts where the previous piece ended
    k = 0
    for (wb, we) in word_spans:
        assert t.begins[k] == wb and t.masks[k] == MASK_NONE
        prev_end = t.ends[k]
        k += 1
        while k < len(t.pieces) and t.masks[k] == MASK_CONTINUATION:
            assert t.begins[k] == prev_end
            prev_end = t.ends[k]
            k += 1
        assert prev_end == we
    assert k == len(t.pieces)


def test_wordpiece_generate_features_and_gazetteer_agree():
    """The pluggable path: generate_features(tokenizer=...) featurizes with
    WordPiece, and build_gazetteer(tokenizer=...) keys entity words on the
    SAME initial pieces, so the stand-in encoder's lookup still hits."""
    from kgforge.synth import build_gazetteer, wordpiece_vocab_words
    from kgforge.tokenization import token_id
    tok = WordPieceTokenizer.from_words(wordpiece_vocab_words())
    feats = generate_features("Vandelay Holdings is located in Tromsø.",
                              0, 64, 2, tokenizer=tok)
    assert len(feats) == 1
    gaz = build_gazetteer(tokenizer=tok)
    assert token_id("Vandelay") in gaz and token_id("Holdings") in gaz
    assert token_id("Tromsø") in gaz
    ids = feats[0].input_ids
    assert token_id("Vandelay") in ids and token_id("Tromsø") in ids


def test_gazetteer_skips_degenerate_wordpiece_keys():
    """Catalog surfaces whose first piece degrades to a 1-char fallback (or
    [UNK]) must plant NO gazetteer key: a key like token_id('b') would tag
    every corpus word starting with that char as an entity."""
    from kgforge.synth import EntityDef, build_gazetteer
    from kgforge.tokenization import token_id
    # vocab {"ab" + chars a,b}: "ba" has no 2-char prefix match -> first
    # piece "b" covers 1 of 2 chars -> skipped
    tok = WordPieceTokenizer.from_words(["ab"])
    cat = [EntityDef("PER_1", "PER", "ba")]
    assert build_gazetteer(cat, tokenizer=tok) == {}
    # wholly unmatchable word -> [UNK] first piece -> skipped too
    tok2 = WordPieceTokenizer({"x"})
    assert build_gazetteer(cat, tokenizer=tok2) == {}
    # sanity: a clean in-vocab word still keys normally
    tok3 = WordPieceTokenizer.from_words(["ba"])
    assert token_id("ba") in build_gazetteer(cat, tokenizer=tok3)


def test_punctuated_surface_keys_on_subword_not_char():
    """Punctuated catalog surfaces contribute their _WORD_RE sub-words to
    the vocab, so the gazetteer keys on the full first sub-word."""
    from kgforge.synth import EntityDef, build_gazetteer
    from kgforge.tokenization import token_id
    cat = [EntityDef("PER_2", "PER", "Jean-Pierre Dupont")]
    words = set()
    import re
    for m in re.finditer(r"\w+|[^\w\s]", "Jean-Pierre Dupont"):
        words.add(m.group(0))
    tok = WordPieceTokenizer.from_words(sorted(words))
    gaz = build_gazetteer(cat, tokenizer=tok)
    assert token_id("Jean") in gaz and token_id("Dupont") in gaz
    assert token_id("J") not in gaz


def test_predict_tokens_rejects_tokenizer_gazetteer_mismatch():
    """A chunk-keyed gazetteer featurized with WordPiece would silently
    return all-O; the mismatch must raise instead."""
    import pytest
    from kgforge.config import PipelineConfig
    from kgforge.ner import predict_tokens
    from kgforge.workers import get_token_classifier
    enc = get_token_classifier(42, "chunk")
    with pytest.raises(ValueError, match="gazetteer keyed"):
        predict_tokens(["Vandelay Holdings"], enc,
                       PipelineConfig(tokenizer="wordpiece"))
    # matched kinds still work
    toks = predict_tokens(["Vandelay Holdings"], enc, PipelineConfig())
    assert toks and toks[0]


# --------------------------------------------------------------------------
# Byte-level BPE tokenizer (GPT-2/RoBERTa family of TokenizerOption,
# common.rs:258-330; public GPT-2 encoder algorithm, from scratch)
# --------------------------------------------------------------------------

from kgforge.tokenization import _B2U, _U2B, BPETokenizer, UnigramTokenizer


def test_bytes_to_unicode_is_a_256_bijection():
    assert len(_B2U) == 256 and len(_U2B) == 256
    assert all(_U2B[u] == b for b, u in _B2U.items())
    # printable latin bytes map to themselves; none of the proxies are
    # whitespace/control (the property the table exists for)
    assert _B2U[ord("A")] == "A" and _B2U[ord("!")] == "!"
    assert all(not ch.isspace() for ch in _B2U.values())


def test_bpe_training_converges_words_to_single_pieces():
    tok = BPETokenizer.from_words(["hello", "help", "world"])
    for w in ("hello", "help", "world"):
        t = tok.tokenize_with_offsets(w)
        assert t.pieces == [w]
        assert t.begins == [0] and t.ends == [len(w)]
        assert t.masks == [MASK_NONE]


def test_bpe_training_is_deterministic_and_order_independent():
    a = BPETokenizer.from_words(["alpha", "beta", "gamma"])
    b = BPETokenizer.from_words(["gamma", "alpha", "beta"])
    assert a.ranks == b.ranks


def test_bpe_oov_word_shares_learned_prefixes_never_unk():
    tok = BPETokenizer.from_words(["hello"])
    # "hellish" reuses the learned merges where they apply (training merged
    # e+l then el+l, so "ell" is a reachable symbol) and degrades to single
    # bytes elsewhere — never [UNK]
    t = tok.tokenize_with_offsets("hellish")
    assert "".join(t.pieces) == "hellish"
    assert "ell" in t.pieces               # multi-byte learned symbol reused
    assert t.masks[0] == MASK_NONE
    assert all(m == MASK_CONTINUATION for m in t.masks[1:])
    # begins/ends tile the word contiguously (pure-ASCII: char == byte)
    assert t.begins[0] == 0 and t.ends[-1] == 7
    for k in range(1, len(t.pieces)):
        assert t.begins[k] == t.ends[k - 1]


def test_bpe_rank_order_beats_frequency_order_at_encode_time():
    # merges applied lowest-rank-first, not left-to-right: with merges
    # [(b,c), (a,b)] the word "abc" must merge (b,c) first -> ["a","bc"]
    tok = BPETokenizer([("b", "c"), ("a", "b")])
    assert tok.tokenize_with_offsets("abc").pieces == ["a", "bc"]
    # reversed ranks -> (a,b) first -> ["ab","c"]
    tok2 = BPETokenizer([("a", "b"), ("b", "c")])
    assert tok2.tokenize_with_offsets("abc").pieces == ["ab", "c"]


def test_bpe_multibyte_offsets_and_byte_split_chars():
    # no merges: every byte is its own piece. "ø" is 2 UTF-8 bytes ->
    # 2 pieces BOTH covering the one source char (the documented
    # byte-level offset degradation); decode restores the exact text.
    tok = BPETokenizer([])
    text = "Tø"
    t = tok.tokenize_with_offsets(text)
    assert len(t.pieces) == 3                     # 'T' + 2 bytes of 'ø'
    assert (t.begins[1], t.ends[1]) == (1, 2)
    assert (t.begins[2], t.ends[2]) == (1, 2)
    assert tok.decode(t.pieces) == text
    # with convergence training the same word is one piece, char-exact
    tok2 = BPETokenizer.from_words(["Tromsø"])
    t2 = tok2.tokenize_with_offsets("Tromsø")
    assert t2.pieces and len(t2.pieces) == 1
    assert (t2.begins[0], t2.ends[0]) == (0, 6)
    assert tok2.decode(t2.pieces) == "Tromsø"


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.text(alphabet="aAbé日🙂'’ ", min_size=1, max_size=8), min_size=1,
    max_size=6))
def test_bpe_offset_and_roundtrip_property(words):
    """Any text (incl. astral 🙂 = 4 UTF-8 bytes): per word, pieces decode
    byte-exactly back to the word, offsets stay inside the word span, start
    at its start, end at its end, and never go backwards."""
    import re
    text = " ".join(words)
    word_spans = [(m.start(), m.end()) for m in
                  re.finditer(r"\w+|[^\w\s]", text, re.UNICODE)]
    toks = [text[b:e] for b, e in word_spans]
    tok = BPETokenizer.from_words(toks)
    t = tok.tokenize_with_offsets(text)
    assert len([m for m in t.masks if m == MASK_NONE]) == len(word_spans)
    k = 0
    for (wb, we) in word_spans:
        assert t.masks[k] == MASK_NONE and t.begins[k] == wb
        word_pieces = [t.pieces[k]]
        last_end = t.ends[k]
        k += 1
        while k < len(t.pieces) and t.masks[k] == MASK_CONTINUATION:
            assert wb <= t.begins[k] <= t.ends[k] <= we
            assert t.begins[k] >= t.begins[k - 1]   # non-decreasing
            word_pieces.append(t.pieces[k])
            last_end = t.ends[k]
            k += 1
        assert last_end == we
        assert tok.decode(word_pieces) == text[wb:we]
    assert k == len(t.pieces)


def test_bpe_generate_features_and_gazetteer_agree():
    """Pluggable path parity with WordPiece: entity words trained to
    convergence are single pieces, the gazetteer keys on them, and
    generate_features emits the same ids."""
    from kgforge.synth import build_gazetteer, wordpiece_vocab_words
    from kgforge.tokenization import generate_features, token_id
    tok = BPETokenizer.from_words(wordpiece_vocab_words())
    feats = generate_features("Vandelay Holdings is located in Tromsø.",
                              0, 64, 2, tokenizer=tok)
    assert len(feats) == 1
    gaz = build_gazetteer(tokenizer=tok)
    # ASCII words: the byte proxy IS the word. Multibyte words ("Tromsø"):
    # the piece is the PROXY string — the gazetteer must key on the
    # tokenizer's own piece, which is what makes the lookup agree
    troms_piece = tok.tokenize_with_offsets("Tromsø").pieces[0]
    assert token_id("Vandelay") in gaz and token_id(troms_piece) in gaz
    ids = feats[0].input_ids
    assert token_id("Vandelay") in ids and token_id(troms_piece) in ids


# --------------------------------------------------------------------------
# Unigram (SentencePiece-style) tokenizer — Viterbi max-log-prob
# segmentation (Kudo 2018), the T5/XLNet/Marian side of TokenizerOption
# --------------------------------------------------------------------------


def test_unigram_in_vocab_word_is_one_piece():
    tok = UnigramTokenizer.from_words(["hello", "world"])
    t = tok.tokenize_with_offsets("hello world")
    assert t.pieces == ["hello", "world"]
    assert t.masks == [MASK_NONE, MASK_NONE]
    assert list(zip(t.begins, t.ends)) == [(0, 5), (6, 11)]


def test_unigram_viterbi_picks_max_score_segmentation():
    # "abc": {"ab":-1,"c":-8} = -9 beats chars (-24); a full "abc" at -1
    # beats both
    tok = UnigramTokenizer({"ab": -1.0, "a": -8.0, "b": -8.0, "c": -8.0})
    assert tok.tokenize_with_offsets("abc").pieces == ["ab", "c"]
    tok2 = UnigramTokenizer({"abc": -1.0, "ab": -1.0, "a": -8.0,
                             "b": -8.0, "c": -8.0})
    assert tok2.tokenize_with_offsets("abc").pieces == ["abc"]
    # score dominates piece count: two cheap pieces beat one expensive one
    tok3 = UnigramTokenizer({"abcd": -20.0, "ab": -1.0, "cd": -1.0})
    assert tok3.tokenize_with_offsets("abcd").pieces == ["ab", "cd"]


def test_unigram_equal_score_prefers_longer_piece():
    # "aaaa" with {"aa":-2,"aaa":-4,"a":-2}: splits 2+2 (=-4) and 3+1 (=-6)
    # and 1+1+2 (=-6)... construct a real tie: {"aa":-2, "a":-1}:
    # "aa" as one piece -2 vs "a"+"a" -2 -> tie; longer piece wins
    tok = UnigramTokenizer({"aa": -2.0, "a": -1.0})
    assert tok.tokenize_with_offsets("aa").pieces == ["aa"]


def test_unigram_unknown_char_fallback_never_blocks():
    tok = UnigramTokenizer.from_words(["abc"])
    # 'x' and '日' are not in the piece table -> single-char fallback
    t = tok.tokenize_with_offsets("ax日c")
    assert "".join(t.pieces) == "ax日c"
    assert t.masks[0] == MASK_NONE
    assert all(m == MASK_CONTINUATION for m in t.masks[1:])
    for piece, b, e in zip(t.pieces, t.begins, t.ends):
        assert "ax日c"[b:e] == piece


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.text(alphabet="aAbé日🙂 ", min_size=1, max_size=8), min_size=1,
    max_size=6))
def test_unigram_offset_exactness_property(words):
    """Codepoint-exact offsets: every piece IS the [begin, end) slice of
    the original text; pieces tile each word contiguously."""
    import re
    text = " ".join(words)
    word_spans = [(m.start(), m.end()) for m in
                  re.finditer(r"\w+|[^\w\s]", text, re.UNICODE)]
    toks = [text[b:e] for b, e in word_spans]
    tok = UnigramTokenizer.from_words(toks)
    t = tok.tokenize_with_offsets(text)
    for piece, b, e in zip(t.pieces, t.begins, t.ends):
        assert text[b:e] == piece
    k = 0
    for (wb, we) in word_spans:
        assert t.begins[k] == wb and t.masks[k] == MASK_NONE
        prev_end = t.ends[k]
        k += 1
        while k < len(t.pieces) and t.masks[k] == MASK_CONTINUATION:
            assert t.begins[k] == prev_end
            prev_end = t.ends[k]
            k += 1
        assert prev_end == we
    assert k == len(t.pieces)


def test_unigram_gazetteer_agreement():
    from kgforge.synth import build_gazetteer, wordpiece_vocab_words
    from kgforge.tokenization import token_id
    tok = UnigramTokenizer.from_words(wordpiece_vocab_words())
    gaz = build_gazetteer(tokenizer=tok)
    assert token_id("Vandelay") in gaz and token_id("Tromsø") in gaz


# --------------------------------------------------------------------------
# LongestFirst pair truncation (TruncationStrategy::LongestFirst — the
# reference's pair-encode path, zero_shot_classification.rs:740-745,
# common.rs:2250-2270)
# --------------------------------------------------------------------------

from kgforge.tokenization import encode_pair_truncated, longest_first_keep


def test_longest_first_trims_longer_side_first():
    # (10, 4) to budget 8: the longer side absorbs all removals down to
    # the tie, then alternates
    assert longest_first_keep(10, 4, 8) == (4, 4)
    # tie: the SECOND sequence is trimmed (the published strict
    # len_1 > len_2 test picks sequence 2 otherwise)
    assert longest_first_keep(5, 5, 8) == (4, 4)
    assert longest_first_keep(5, 5, 9) == (5, 4)
    # already fits: untouched
    assert longest_first_keep(3, 2, 8) == (3, 2)
    # degenerate budgets never go negative
    assert longest_first_keep(2, 2, 0) == (0, 0)


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 300), st.integers(0, 300), st.integers(-5, 400))
def test_longest_first_closed_form_equals_published_loop(n_a, n_b, budget):
    """longest_first_keep is computed in closed form; pin it against the
    reference's literal remove-one-from-the-longer loop (strict
    len_1 > len_2, tie trims sequence 2) for every shape."""
    keep_a, keep_b = n_a, n_b
    for _ in range(max(keep_a + keep_b - budget, 0)):
        if keep_a > keep_b:
            keep_a -= 1
        else:
            keep_b -= 1
    expected = (max(keep_a, 0), max(keep_b, 0))
    assert longest_first_keep(n_a, n_b, budget) == expected


def test_encode_pair_truncation_is_token_wise_not_char_wise():
    # chunk tokenizer: every 2-char word is ONE piece; 11 = 8 content + 3
    # specials -> premise (8 tokens) keeps 4, hypothesis (4) keeps 4
    prem = "w0 w1 w2 w3 w4 w5 w6 w7"
    hyp = "h0 h1 h2 h3"
    a, b = encode_pair_truncated(prem, hyp, 11)
    assert a == "w0 w1 w2 w3" and b == hyp
    # an 8-char word is TWO chunk pieces: truncation may cut mid-word at a
    # PIECE boundary — proving the budget is tokens, not chars or words
    prem2 = "abcdefgh " * 8            # 16 pieces of 4 chars
    a2, b2 = encode_pair_truncated(prem2.strip(), "h0", 8)  # content 5
    # hypothesis keeps its 1 piece; premise keeps 4 pieces = 2 words
    assert b2 == "h0"
    assert a2 == "abcdefgh abcdefgh"
    a3, _ = encode_pair_truncated(prem2.strip(), "h0", 7)   # content 4
    assert a3 == "abcdefgh abcd"      # 3 pieces: mid-word piece boundary


def test_encode_pair_truncation_short_inputs_untouched():
    a, b = encode_pair_truncated("Vandelay Holdings", "acquired by", 64)
    assert a == "Vandelay Holdings" and b == "acquired by"


def test_encode_pair_truncation_respects_pluggable_tokenizer():
    tok = WordPieceTokenizer.from_words(["hello", "world", "label"])
    # wordpiece: in-vocab words are ONE piece each; budget 2 content
    a, b = encode_pair_truncated("hello world hello", "label", 6, tokenizer=tok)
    # (3, 1) -> budget 3: trims premise to 2
    assert a == "hello world" and b == "label"


def test_truncation_precheck_gated_off_for_byte_level_bpe():
    """Regression: the chars<=budget precheck is sound only for tokenizers
    with >=1 char per piece. Byte-level BPE emits up to 4 tokens per char,
    so a 60-char CJK premise (180 byte tokens) must STILL truncate."""
    tok = BPETokenizer([])
    text = "日" * 60                     # 180 byte tokens, 60 chars
    a, b = encode_pair_truncated(text, "x", 128, tokenizer=tok)
    kept = tok.tokenize_with_offsets(a)
    # the surface cut is CHAR-granular: a partially-kept multibyte char is
    # rounded up to its full char, so re-tokenizing may exceed the token
    # budget by at most bytes_per_char - 1 (a real checkpoint feeds the
    # kept ids directly and is exact)
    assert len(kept.ids) + 1 <= 125 + 3
    assert a != text                    # actually truncated (was 180 tokens)
    # the default chunk tokenizer still takes the cheap no-op path
    a2, b2 = encode_pair_truncated("short premise", "tiny", 128)
    assert (a2, b2) == ("short premise", "tiny")


def test_truncate_pairs_batch_matches_single_pair_form():
    from kgforge.tokenization import truncate_pairs
    ps = ["w0 w1 w2 w3 w4 w5 w6 w7", "a b", "w0 w1 w2 w3 w4 w5 w6 w7"]
    hs = ["h0 h1 h2 h3", "c", "h0"]
    got_a, got_b = truncate_pairs(ps, hs, 11)
    for p, h, ga, gb in zip(ps, hs, got_a, got_b):
        ea, eb = encode_pair_truncated(p, h, 11)
        assert (ga, gb) == (ea, eb)


# --------------------------------------------------------------------------
# from-file constructors (TokenizerOption::from_file, common.rs:639-690):
# serialize the trained tokenizers to the reference artifact formats,
# reload, and pin bit-identical tokenization on a multibyte corpus
# --------------------------------------------------------------------------

_FF_CORPUS = ["Zoë", "Tromsø", "Vandelay", "日本語", "🙂ok", "naïve",
              "Quantia", "works", "'s"]
_FF_TEXTS = ["Zoë works for Vandelay in Tromsø 🙂ok",
             "naïve 日本語 Quantia 's", "unseen wørds 𝔘nicode"]


def _tok_outputs(tok, texts):
    return [(t.pieces, t.ids, t.begins, t.ends, t.masks)
            for t in map(tok.tokenize_with_offsets, texts)]


def test_wordpiece_vocab_file_roundtrip(tmp_path):
    p = tmp_path / "vocab.txt"
    for flags in ({"lower_case": False}, {"lower_case": True},
                  {"lower_case": False, "strip_accents": True}):
        tok = WordPieceTokenizer.from_words(_FF_CORPUS, **flags)
        tok.to_vocab_file(p)
        back = WordPieceTokenizer.from_vocab_file(p, **flags)
        assert back.vocab == tok.vocab
        assert _tok_outputs(back, _FF_TEXTS) == _tok_outputs(tok, _FF_TEXTS)
    # line number = id (the BERT vocab.txt contract)
    first = p.read_text(encoding="utf-8").splitlines()[0]
    assert back.token_to_id[first] == 0


def test_bpe_files_roundtrip(tmp_path):
    vp, mp = tmp_path / "vocab.json", tmp_path / "merges.txt"
    tok = BPETokenizer.from_words(_FF_CORPUS)
    tok.to_files(vp, mp)
    back = BPETokenizer.from_files(vp, mp)
    assert back.ranks == tok.ranks
    assert _tok_outputs(back, _FF_TEXTS) == _tok_outputs(tok, _FF_TEXTS)
    # merges.txt: header + one "a b" line per merge, in rank order
    lines = mp.read_text(encoding="utf-8").splitlines()
    assert lines[0].startswith("#version") and len(lines) == 1 + len(tok.ranks)
    # vocab.json: 256 byte proxies first, then merge outputs in rank order;
    # a mounted vocab serves convert_token_to_id (checkpoint ids)
    a, b = lines[1].split(" ")
    assert back.vocab[a + b] == 256
    assert back.convert_token_to_id(a + b) == 256
    assert tok.vocab is None            # trained tokenizer: hash ids
    from kgforge.tokenization import token_id
    assert tok.convert_token_to_id(a + b) == token_id(a + b)


def test_unigram_piece_table_roundtrip(tmp_path):
    p = tmp_path / "unigram.vocab"
    tok = UnigramTokenizer.from_words(_FF_CORPUS)
    tok.to_piece_table(p)
    back = UnigramTokenizer.from_piece_table(p)
    assert back.pieces == tok.pieces            # scores bit-exact (repr)
    assert back.max_piece_len == tok.max_piece_len
    assert _tok_outputs(back, _FF_TEXTS) == _tok_outputs(tok, _FF_TEXTS)


# --------------------------------------------------------------------------
# unified tokenizer.json adapter (HFTokenizer::from_file,
# hf_tokenizers.rs:134-155) — export each trained tokenizer to the HF
# schema, reload, pin bit-identical tokenization; special_token_map.json
# read in both published slot forms (string and added-token struct)
# --------------------------------------------------------------------------

def test_tokenizer_json_roundtrip_all_models(tmp_path):
    from kgforge.tokenization import from_tokenizer_json, to_tokenizer_json
    p = tmp_path / "tokenizer.json"
    for tok in (WordPieceTokenizer.from_words(_FF_CORPUS, lower_case=True),
                BPETokenizer.from_words(_FF_CORPUS),
                UnigramTokenizer.from_words(_FF_CORPUS)):
        to_tokenizer_json(tok, p)
        back, stm = from_tokenizer_json(p)
        assert type(back) is type(tok)
        assert _tok_outputs(back, _FF_TEXTS) == _tok_outputs(tok, _FF_TEXTS)
        assert back.special_token_map is stm
    # WordPiece carries normalizer flags + checkpoint ids through the file
    wp = WordPieceTokenizer.from_words(
        _FF_CORPUS, lower_case=False, strip_accents=True)
    to_tokenizer_json(wp, p)
    back, _ = from_tokenizer_json(p)
    assert (back.lower_case, back.strip_accents) == (False, True)
    assert back.token_to_id  # vocab map mounted
    # BPE merges: current pair-list form AND legacy "a b" strings
    import json
    spec = json.loads(p.read_text(encoding="utf-8"))
    bpe = BPETokenizer.from_words(_FF_CORPUS)
    to_tokenizer_json(bpe, p)
    spec = json.loads(p.read_text(encoding="utf-8"))
    assert spec["model"]["merges"] and isinstance(
        spec["model"]["merges"][0], list)
    spec["model"]["merges"] = [f"{a} {b}"
                               for a, b in spec["model"]["merges"]]
    p.write_text(json.dumps(spec, ensure_ascii=False), encoding="utf-8")
    legacy, _ = from_tokenizer_json(p)
    assert legacy.ranks == bpe.ranks
    assert _tok_outputs(legacy, _FF_TEXTS) == _tok_outputs(bpe, _FF_TEXTS)


def test_special_token_map_string_and_struct_forms(tmp_path):
    import json
    from kgforge.tokenization import (SpecialTokenMap, from_tokenizer_json,
                                      to_tokenizer_json)
    import pytest
    sp = tmp_path / "special_token_map.json"
    # struct form: the added-token {"content": ...} wrapper the reference's
    # string_or_added_token_struct visitor unwraps
    sp.write_text(json.dumps({
        "unk_token": "[UNK]",
        "cls_token": {"content": "[CLS]", "single_word": False},
        "sep_token": "[SEP]",
        "additional_special_tokens": [{"content": "<extra_0>"}, "<extra_1>"],
    }), encoding="utf-8")
    stm = SpecialTokenMap.from_file(sp)
    assert (stm.unk_token, stm.cls_token, stm.sep_token) == (
        "[UNK]", "[CLS]", "[SEP]")
    assert stm.pad_token is None
    assert stm.additional_special_tokens == {"<extra_0>", "<extra_1>"}
    # plain-string serialize -> reload is identity
    out = tmp_path / "stm_out.json"
    stm.to_file(out)
    assert SpecialTokenMap.from_file(out) == stm
    # sidecar rides into the mounted tokenizer; WordPiece adopts its UNK
    p = tmp_path / "tokenizer.json"
    to_tokenizer_json(WordPieceTokenizer.from_words(_FF_CORPUS), p)
    tok, got = from_tokenizer_json(p, sp)
    assert got == stm and tok.special_token_map == stm
    assert tok.UNK == "[UNK]"
    # unk_token is required, as in the reference's Deserialize
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"pad_token": "<pad>"}), encoding="utf-8")
    with pytest.raises(ValueError, match="unk_token"):
        SpecialTokenMap.from_file(bad)
