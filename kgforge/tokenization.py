"""Tokenization with char offsets + sliding-window featurization.

Ports the *semantics* (not the code) of the reference's featurizer:

- tokenize with CHARACTER offsets (the reference slices the original sentence
  by char, src/pipelines/token_classification.rs:1108-1117 — so Python
  code-point indexing matches natively);
- one ``Tokenizer.tokenize_with_offsets`` loop for the four tokenizer
  families (chunk, WordPiece, BPE, unigram); each supplies only its
  per-word ``split_word``. The default chunk family (``CHUNK``) splits
  words into 4-char pieces so that sub-token consolidation has real work
  to do;
- sliding spans of ``max_length - n_special`` tokens advancing by
  ``end - doc_stride`` with loop guard ``len(spans) * doc_stride < n_tokens``
  (src/pipelines/token_classification.rs:836-882);
- per-token ownership ("reference_feature") flags with cutoff ``doc_stride/2``
  (rounded up at the start edge, so an odd stride's overlap is owned once)
  plus leading/trailing special tokens at interior span edges
  (src/pipelines/token_classification.rs:885-928).

Everything here is pure Python/numpy — unit-testable without Spark, and
invoked inside Arrow-batched UDFs on the cluster.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from functools import lru_cache

# token masks (reference: rust-tokenizers Mask enum, used at
# token_classification.rs:1016-1022)
MASK_NONE = 0          # word-initial piece
MASK_CONTINUATION = 1  # non-initial sub-word piece
MASK_SPECIAL = 2       # [CLS]/[SEP]/[PAD]

CLS_ID = 0
SEP_ID = 1
PAD_ID = 2
N_RESERVED_IDS = 8

_WORD_RE = re.compile(r"\w+|[^\w\s]", re.UNICODE)
_SUBWORD_CHUNK = 4  # pieces of ≤4 chars → multi-piece words exercise consolidation
_WORD_CACHE_SIZE = 1 << 16  # words per tokenizer; a full cache is emptied

_SENT_RE = re.compile(r"[^.!?\n]*[.!?]+|[^.!?\n]+", re.UNICODE)


@lru_cache(maxsize=1 << 20)
def token_id(piece: str) -> int:
    """Stable 31-bit vocab id from the piece text (md5-derived; deterministic
    across processes, unlike Python's salted hash()). Cached: natural-language
    piece vocabulary is small and highly repetitive."""
    h = hashlib.md5(piece.encode("utf-8")).digest()
    return N_RESERVED_IDS + (int.from_bytes(h[:4], "little") & 0x7FFFFFFF)


@dataclass
class TokenizedInput:
    """One text, sub-word tokenized, with char offsets into the original."""
    pieces: list[str]
    ids: list[int]
    begins: list[int]   # char offset, inclusive
    ends: list[int]     # char offset, exclusive
    masks: list[int]    # MASK_NONE | MASK_CONTINUATION


def split_sentences(text: str) -> list[tuple[int, str]]:
    """Deterministic sentence split; returns (char_begin, sentence) pairs.

    Offsets compose: sentence-local token offsets + char_begin give
    document-absolute offsets (SURVEY §7: never re-find substrings).
    """
    out = []
    for m in _SENT_RE.finditer(text):
        s = m.group(0)
        stripped = s.strip()
        if not stripped:
            continue
        begin = m.start() + (len(s) - len(s.lstrip()))
        out.append((begin, stripped))
    return out


class Tokenizer:
    """One tokenizer family behind the shared ``tokenize_with_offsets``
    contract: ``_WORD_RE`` pre-tokenizes the text into words (runs of
    ``\\w`` chars, and single punctuation chars), and the family's
    ``split_word`` splits each word into pieces. A piece's ``[begin, end)``
    is a CHARACTER offset into the original text inside its word's span,
    its id is ``token_id(piece)``, and its mask is MASK_NONE on the word's
    first piece and MASK_CONTINUATION on the rest (the continuation
    bookkeeping the reference's consolidation relies on,
    token_classification.rs:1016-1022). Pieces are in text order, one
    entry per piece in each of the five lists.

    Each word's pieces, ids, word-relative offsets and masks are a pure
    function of the word, so they are cached per instance: the word
    vocabulary repeats while the per-word split is the tokenizer's
    hottest path."""

    def __init__(self) -> None:
        self._words: dict[str, tuple] = {}

    def split_word(self, word: str) -> list[tuple[str, int, int]]:
        """-> (piece, begin, end) per piece, offsets relative to the word."""
        raise NotImplementedError

    def _split_cached(self, word: str) -> tuple:
        split = self.split_word(word)
        pieces = tuple(p for p, _, _ in split)
        entry = (pieces, tuple(map(token_id, pieces)),
                 tuple(b for _, b, _ in split), tuple(e for _, _, e in split),
                 (MASK_NONE,) + (MASK_CONTINUATION,) * (len(split) - 1))
        if len(self._words) >= _WORD_CACHE_SIZE:
            self._words.clear()
        self._words[word] = entry
        return entry

    def tokenize_with_offsets(self, text: str) -> TokenizedInput:
        pieces: list[str] = []
        ids: list[int] = []
        begins: list[int] = []
        ends: list[int] = []
        masks: list[int] = []
        cached = self._words.get
        for m in _WORD_RE.finditer(text):
            word = m.group()
            wp, wi, wb, we, wm = cached(word) or self._split_cached(word)
            start = m.start()
            if len(wp) == 1:       # the common single-piece word
                pieces.append(wp[0])
                ids.append(wi[0])
                begins.append(start + wb[0])
                ends.append(start + we[0])
                masks.append(MASK_NONE)
            else:
                pieces += wp
                ids += wi
                begins += [start + b for b in wb]
                ends += [start + e for e in we]
                masks += wm
        return TokenizedInput(pieces, ids, begins, ends, masks)


class ChunkTokenizer(Tokenizer):
    """The default stand-in: a word of n chars becomes ceil(n/4) pieces,
    later pieces marked ``##`` like WordPiece continuations, so multi-piece
    words exercise sub-token consolidation."""

    def split_word(self, word: str) -> list[tuple[str, int, int]]:
        n = len(word)
        return [(word[i:i + _SUBWORD_CHUNK] if i == 0
                 else "##" + word[i:i + _SUBWORD_CHUNK],
                 i, min(i + _SUBWORD_CHUNK, n))
                for i in range(0, n, _SUBWORD_CHUNK)]


CHUNK = ChunkTokenizer()
tokenize_with_offsets = CHUNK.tokenize_with_offsets


class WordPieceTokenizer(Tokenizer):
    """WordPiece: longest-match-first sub-word split with ``##``
    continuations and the BERT ``lower_case`` / ``strip_accents``
    normalization flags the reference exposes
    (src/pipelines/token_classification.rs:237-242 — forwarded to
    rust_tokenizers' BertTokenizer; that crate is external, so this is a
    pure-Python implementation of the same public algorithm).

    Offsets remain CHARACTER offsets into the ORIGINAL text: normalization
    (lowercasing, NFD accent stripping) tracks a per-normalized-char map
    back to source char indices, so accent-expanding or case-expanding
    inputs keep char-exact spans. A word with any unmatchable position (or
    longer than ``max_input_chars_per_word``) becomes one ``[UNK]`` piece
    spanning the whole word — BERT's whole-word-UNK rule. Plug into the
    pipeline with ``PipelineConfig(tokenizer="wordpiece")``.
    """

    UNK = "[UNK]"

    def __init__(self, vocab, lower_case: bool = False,
                 strip_accents: bool | None = None,
                 max_input_chars_per_word: int = 100):
        super().__init__()
        self.vocab = frozenset(vocab)
        self.lower_case = lower_case
        # unset strip_accents follows lower_case — BERT BasicTokenizer's
        # default, which the reference's Option<bool> None selects
        self.strip_accents = (lower_case if strip_accents is None
                              else strip_accents)
        self.max_input_chars_per_word = max_input_chars_per_word

    @classmethod
    def from_vocab_file(cls, vocab_path, lower_case: bool = False,
                        strip_accents: bool | None = None,
                        ) -> "WordPieceTokenizer":
        """Mount a real checkpoint's tokenizer from its artifact file — the
        BertTokenizer arm of TokenizerOption::from_file (common.rs:639-662):
        ``vocab.txt`` is one token per line, line number = id; the
        lower_case / strip_accents flags ride alongside the file exactly as
        the reference's from_file signature passes them."""
        with open(vocab_path, encoding="utf-8") as f:
            tokens = [ln.rstrip("\n") for ln in f]
        tok = cls((t for t in tokens if t), lower_case=lower_case,
                  strip_accents=strip_accents)
        tok.token_to_id = {t: i for i, t in enumerate(tokens) if t}
        return tok

    def to_vocab_file(self, vocab_path) -> None:
        """Serialize to the vocab.txt format ``from_vocab_file`` reads
        (deterministic sorted order; ids are then line numbers). Round-trip
        is bit-identical tokenization — pinned in tests."""
        with open(vocab_path, "w", encoding="utf-8") as f:
            for t in sorted(self.vocab):
                f.write(t + "\n")

    @classmethod
    def from_words(cls, words, lower_case: bool = False,
                   strip_accents: bool | None = None) -> "WordPieceTokenizer":
        """Vocab = each word's normalized full form + per-char fallback
        pieces (every char c and '##' + c), so in-vocab words are one piece
        and everything else degrades to char pieces instead of [UNK]."""
        tok = cls((), lower_case=lower_case, strip_accents=strip_accents)
        vocab: set[str] = set()
        for w in words:
            norm, _ = tok._normalize(w)
            if not norm:
                continue
            vocab.add(norm)
            for ch in norm:
                vocab.add(ch)
                vocab.add("##" + ch)
        tok.vocab = frozenset(vocab)
        return tok

    def _normalize(self, word: str) -> tuple[str, list[int]]:
        """-> (normalized word, source char index per normalized char)."""
        import unicodedata
        chars: list[str] = []
        idx_map: list[int] = []
        for i, ch in enumerate(word):
            ch = ch.lower() if self.lower_case else ch
            if self.strip_accents:
                for d in unicodedata.normalize("NFD", ch):
                    if unicodedata.category(d) != "Mn":
                        chars.append(d)
                        idx_map.append(i)
            else:
                for d in ch:        # lower() may expand (e.g. 'İ' -> 'i̇')
                    chars.append(d)
                    idx_map.append(i)
        return "".join(chars), idx_map

    def _wordpiece(self, norm: str) -> list[tuple[str, int, int]] | None:
        """Greedy longest-match-first over the normalized word; None when
        some position cannot be matched (whole word -> [UNK])."""
        out: list[tuple[str, int, int]] = []
        start = 0
        while start < len(norm):
            end = len(norm)
            found = None
            while start < end:
                sub = norm[start:end]
                if start > 0:
                    sub = "##" + sub
                if sub in self.vocab:
                    found = sub
                    break
                end -= 1
            if found is None:
                return None
            out.append((found, start, end))
            start = end
        return out

    def split_word(self, word: str) -> list[tuple[str, int, int]]:
        sub = None
        if len(word) <= self.max_input_chars_per_word:
            norm, idx_map = self._normalize(word)
            if norm:
                sub = self._wordpiece(norm)
        if sub is None:
            return [(self.UNK, 0, len(word))]
        return [(piece, idx_map[s], idx_map[e - 1] + 1) for piece, s, e in sub]


def clean_up_tokenization(text: str) -> str:
    """The public decode clean-up every reference tokenizer applies when
    ``clean_up_tokenization_spaces`` is set (rust_tokenizers'
    clean_up_tokenization, surfaced through TokenizerOption::decode at
    common.rs:1397-1430): collapse the spaces a whitespace-joined decode
    leaves before punctuation and English contractions. The replacement
    list — including the historical ``" do not" -> " don't"`` — is the
    exact published set; order matters (``" ' "`` before the specific
    contractions)."""
    return (text
            .replace(" .", ".")
            .replace(" ?", "?")
            .replace(" !", "!")
            .replace(" ,", ",")
            .replace(" ' ", "'")
            .replace(" n't", "n't")
            .replace(" 'm", "'m")
            .replace(" do not", " don't")
            .replace(" 's", "'s")
            .replace(" 've", "'ve")
            .replace(" 're", "'re"))


def longest_first_keep(n_a: int, n_b: int, max_content: int) -> tuple[int, int]:
    """TruncationStrategy::LongestFirst over a pair: remove ONE token at a
    time from the currently-longer sequence until the pair fits
    ``max_content``; on a LENGTH TIE the SECOND sequence is trimmed (the
    published loop's strict ``len_1 > len_2`` test picks sequence 2
    otherwise). This is the public truncation algorithm the reference
    selects for every pair-encode path (encode_pair_list at
    zero_shot_classification.rs:740-745, tokenize_and_pad at
    common.rs:2250-2270). Token-level, not char-level: the budget is in
    TOKENS of whatever tokenizer encodes the pair.

    Computed in closed form (O(1), not one loop turn per removed token —
    this sits on the zero-shot executor hot path once per (doc, label)):
    the one-at-a-time loop either trims only the longer side down to
    ``budget - other``, or, when both sides exceed the even split, walks
    to the tie and then alternates starting with B (the strict
    ``len_1 > len_2`` test), leaving A the odd token. Equivalence to the
    published loop is property-pinned in tests."""
    budget = max(max_content, 0)
    if n_a + n_b <= budget:
        return n_a, n_b
    if budget >= 2 * n_b:           # only A exceeds its half
        return budget - n_b, n_b
    if budget >= 2 * n_a:           # only B exceeds its half
        return n_a, budget - n_a
    return (budget + 1) // 2, budget // 2


def truncate_pairs(texts_a: list[str], texts_b: list[str], max_length: int,
                   n_special: int = 3, tokenizer: Tokenizer = CHUNK
                   ) -> tuple[list[str], list[str]]:
    """Joint LongestFirst truncation over a BATCH of (premise, hypothesis)
    pairs — the shared hot-path form behind score_candidates and
    classify_zero_shot. Each UNIQUE text is tokenized once (zero-shot
    repeats every premise once per label; its token list is
    label-independent), then the per-pair LongestFirst math is cheap.

    The char-count precheck (len(chars) <= budget implies len(tokens) <=
    budget) applies ONLY to ``CHUNK``, whose pieces never share a char;
    byte-level BPE emits up to 4 tokens per char, so every other tokenizer
    always takes the tokenize path.

    Budget softness: the cut is CHAR-granular (each side is sliced at its
    last kept token's END offset). For byte-level tokenizers a kept-token
    boundary can fall inside a multibyte char, which rounds UP to the full
    char — re-tokenizing the cut surface can then exceed the per-side keep
    by at most bytes_per_char - 1 tokens PER SIDE (so <= 2*(4-1) over the
    pair for UTF-8). A real checkpoint feeds the kept ids directly and is
    exact; the surface form exists only for the text-consuming stand-in
    head."""
    budget = max_length - n_special
    cache: dict[str, TokenizedInput] = {}

    def tok(t: str) -> TokenizedInput:
        got = cache.get(t)
        if got is None:
            got = cache[t] = tokenizer.tokenize_with_offsets(t)
        return got

    def cut(text, ti, keep):
        if keep >= len(ti.ids):
            return text
        return text[:ti.ends[keep - 1]] if keep > 0 else ""

    out_a: list[str] = []
    out_b: list[str] = []
    for a, b in zip(texts_a, texts_b):
        if tokenizer is CHUNK and len(a) + len(b) <= budget:
            out_a.append(a)
            out_b.append(b)
            continue
        ta, tb = tok(a), tok(b)
        keep_a, keep_b = longest_first_keep(len(ta.ids), len(tb.ids), budget)
        out_a.append(cut(a, ta, keep_a))
        out_b.append(cut(b, tb, keep_b))
    return out_a, out_b


def encode_pair_truncated(text_a: str, text_b: str, max_length: int,
                          n_special: int = 3,
                          tokenizer: Tokenizer = CHUNK) -> tuple[str, str]:
    """Single-pair form of ``truncate_pairs``: tokenize both sides, apply
    LongestFirst to the content budget ``max_length - n_special`` (BERT
    pair layout [CLS] A [SEP] B [SEP] -> 3 specials), and slice each
    ORIGINAL text at its last kept token's end offset. Returns surface
    strings because the stand-in NLI head consumes text — a real
    checkpoint would feed the kept ids directly; the truncation MATH is
    identical. Truncation is from the END of each side only, like the
    reference."""
    (a,), (b,) = truncate_pairs([text_a], [text_b], max_length,
                                n_special, tokenizer)
    return a, b


def _bytes_to_unicode() -> dict[int, str]:
    """GPT-2's public byte->printable-unicode table (the released encoder's
    bytes_to_unicode): printable latin bytes map to themselves, the rest to
    256+offset codepoints, giving a closed 256-symbol alphabet with no
    whitespace/control chars — the foundation of byte-level BPE's
    no-[UNK] guarantee."""
    bs = (list(range(ord("!"), ord("~") + 1))
          + list(range(ord("¡"), ord("¬") + 1))
          + list(range(ord("®"), ord("ÿ") + 1)))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


_B2U = _bytes_to_unicode()
_U2B = {u: b for b, u in _B2U.items()}


class BPETokenizer(Tokenizer):
    """Byte-level BPE (the GPT-2/RoBERTa family of the reference's
    TokenizerOption closed enum, src/pipelines/common.rs:258-330; HF adapter
    surface hf_tokenizers.rs:105-497). The rust_tokenizers crate backing the
    reference is external; this is a from-scratch pure-Python implementation
    of the same public algorithm (the released GPT-2 encoder): UTF-8 bytes
    through the bytes->unicode proxy alphabet, then ranked pair merges —
    lowest-rank pair first, all adjacent occurrences per pass. The byte
    alphabet is closed, so NOTHING is ever [UNK] (vs WordPiece's
    whole-word-UNK rule).

    Two documented stand-in divergences, both position-independence choices
    for the pipeline contract:
      * pre-tokenization uses the pipeline's shared ``_WORD_RE`` (word /
        single-punct) instead of GPT-2's contraction+space regex, and the
        leading-space "Ġ" marker is dropped — the gazetteer and gold spans
        key on the word itself, not on where it sits in the sentence;
      * ids come from ``token_id`` (hash vocab) as for the other
        tokenizers, not from a vocab.json.

    Offsets are CHARACTER offsets into the ORIGINAL text, derived from a
    per-byte -> source-char map. A merge boundary may fall INSIDE a
    multibyte char's bytes; the two pieces then both cover that char
    (begins/ends overlap by one char) — exactly how byte-level offsets
    degrade on astral/multibyte input, property-tested. ``decode`` inverts
    the proxy alphabet back to bytes (round-trip exact per word). Plug in
    with ``PipelineConfig(tokenizer="bpe")``.
    """

    def __init__(self, merges: list[tuple[str, str]],
                 vocab: dict[str, int] | None = None):
        super().__init__()
        self.ranks: dict[tuple[str, str], int] = {
            pair: i for i, pair in enumerate(merges)}
        # token -> checkpoint id, when mounted from a vocab.json; the
        # pipeline's hash ids stay the default (convert_token_to_id)
        self.vocab = dict(vocab) if vocab else None

    @classmethod
    def from_files(cls, vocab_path, merges_path) -> "BPETokenizer":
        """Mount a real checkpoint's tokenizer from its artifact files —
        the Gpt2/Roberta arm of TokenizerOption::from_file
        (common.rs:663-690, vocab_path + merges_path pair): ``merges.txt``
        holds one "left right" pair per line in rank order (optional
        ``#version`` header), ``vocab.json`` maps token -> id."""
        import json
        merges: list[tuple[str, str]] = []
        with open(merges_path, encoding="utf-8") as f:
            for ln in f:
                ln = ln.rstrip("\n")
                if not ln or ln.startswith("#"):
                    continue
                a, b = ln.split(" ")
                merges.append((a, b))
        with open(vocab_path, encoding="utf-8") as f:
            vocab = json.load(f)
        return cls(merges, vocab=vocab)

    def to_files(self, vocab_path, merges_path) -> None:
        """Serialize to the (vocab.json, merges.txt) pair ``from_files``
        reads. The vocab follows GPT-2's published enumeration: the 256
        byte-proxy symbols in byte order, then each merge's output token in
        rank order. Round-trip is bit-identical tokenization."""
        import json
        ordered = [p for p, _ in sorted(self.ranks.items(),
                                        key=lambda kv: kv[1])]
        with open(merges_path, "w", encoding="utf-8") as f:
            f.write("#version: 0.2\n")
            for a, b in ordered:
                f.write(f"{a} {b}\n")
        vocab: dict[str, int] = {}
        for b in range(256):
            vocab[_B2U[b]] = len(vocab)
        for a, b in ordered:
            tok = a + b
            if tok not in vocab:
                vocab[tok] = len(vocab)
        with open(vocab_path, "w", encoding="utf-8") as f:
            json.dump(vocab, f, ensure_ascii=False)

    def convert_token_to_id(self, piece: str) -> int:
        """Checkpoint id when a vocab.json is mounted, else the pipeline's
        stable hash id — the TokenizerOption::convert_tokens_to_ids
        surface (common.rs:1731-1760)."""
        if self.vocab is not None and piece in self.vocab:
            return self.vocab[piece]
        return token_id(piece)

    # -- training (classic Sennrich BPE learning; deterministic) ----------
    @classmethod
    def train(cls, words, n_merges: int | None = None) -> "BPETokenizer":
        """Learn merges from a word list: repeatedly merge the most frequent
        adjacent symbol pair (ties -> lexicographically smallest pair, so
        training is order-independent and deterministic). ``n_merges=None``
        trains to convergence: every training word ends as ONE symbol —
        the stand-in analog of 'entity words are in-vocab', mirroring
        WordPieceTokenizer.from_words."""
        seqs: dict[tuple[str, ...], int] = {}
        for w in words:
            t = tuple(_B2U[b] for b in w.encode("utf-8"))
            if t:
                seqs[t] = seqs.get(t, 0) + 1
        merges: list[tuple[str, str]] = []
        while n_merges is None or len(merges) < n_merges:
            pairs: dict[tuple[str, str], int] = {}
            for seq, c in seqs.items():
                for pair in zip(seq, seq[1:]):
                    pairs[pair] = pairs.get(pair, 0) + c
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append(best)
            seqs = {cls._merge_seq(seq, best): c for seq, c in seqs.items()}
        return cls(merges)

    @classmethod
    def from_words(cls, words) -> "BPETokenizer":
        return cls.train(words, n_merges=None)

    @staticmethod
    def _merge_seq(seq: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
        out: list[str] = []
        i = 0
        while i < len(seq):
            if i + 1 < len(seq) and (seq[i], seq[i + 1]) == pair:
                out.append(seq[i] + seq[i + 1])
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return tuple(out)

    # -- encoding ---------------------------------------------------------
    def _bpe(self, seq: tuple[str, ...]) -> list[str]:
        """Apply merges by rank: the present pair with the LOWEST rank is
        merged (all adjacent occurrences) each pass — the GPT-2 encode
        loop."""
        word = list(seq)
        while len(word) > 1:
            ranked = [(self.ranks[p], p) for p in zip(word, word[1:])
                      if p in self.ranks]
            if not ranked:
                break
            _, pair = min(ranked)
            word = list(self._merge_seq(tuple(word), pair))
        return word

    def split_word(self, word: str) -> list[tuple[str, int, int]]:
        proxies: list[str] = []
        byte_char: list[int] = []    # source char index per byte
        for ci, ch in enumerate(word):
            for b in ch.encode("utf-8"):
                proxies.append(_B2U[b])
                byte_char.append(ci)
        out = []
        pos = 0
        for piece in self._bpe(tuple(proxies)):
            out.append((piece, byte_char[pos],
                        byte_char[pos + len(piece) - 1] + 1))
            pos += len(piece)
        return out

    def decode(self, pieces) -> str:
        """pieces -> original bytes -> text (exact inverse of the proxy
        alphabet; invalid split at piece-list boundaries degrades to
        U+FFFD, as in the public decoder)."""
        return bytes(_U2B[ch] for piece in pieces
                     for ch in piece).decode("utf-8", errors="replace")


class UnigramTokenizer(Tokenizer):
    """SentencePiece-unigram-style tokenizer (the T5/XLNet/Marian/Albert
    side of the reference's TokenizerOption enum, common.rs:258-330):
    segment each word into the piece sequence MAXIMIZING the sum of piece
    log-probs, via Viterbi over piece boundaries — the public unigram-LM
    inference algorithm (Kudo 2018), from scratch.

    Stand-in divergences (same position-independence rationale as
    BPETokenizer): pre-tokenization is the shared ``_WORD_RE`` and the
    "▁" whole-word space marker is dropped; piece scores come from
    ``from_words`` (full words strongly preferred over char pieces) rather
    than an EM-trained model — the segmentation MATH is the real
    algorithm, the score table is the swappable stand-in, exactly like the
    hash-head encoders.

    Never [UNK]: any char not in the piece table gets an implicit deeply
    penalized single-char fallback score, so Viterbi always finds a path
    (SentencePiece's byte-fallback analog). Offsets are codepoint-exact
    into the original text. Plug in with
    ``PipelineConfig(tokenizer="unigram")``.
    """

    WORD_SCORE = -1.0      # in-vocab full words / learned pieces
    CHAR_SCORE = -8.0      # char pieces: only when no word piece fits
    FALLBACK_SCORE = -100.0  # unknown single char (never blocks a path)

    def __init__(self, pieces: dict[str, float]):
        super().__init__()
        self.pieces = dict(pieces)
        self.max_piece_len = max((len(p) for p in self.pieces), default=1)

    @classmethod
    def from_piece_table(cls, table_path) -> "UnigramTokenizer":
        """Mount a real checkpoint's piece table from its artifact file —
        the sentencepiece-model arm of TokenizerOption::from_file
        (common.rs:639-690; T5/XLNet/Marian vocab_path): the public
        ``.vocab`` text export, one "piece<TAB>log-prob" per line in piece
        order. (The binary .model protobuf needs the sentencepiece lib,
        absent here; its text export carries the same table.)"""
        pieces: dict[str, float] = {}
        with open(table_path, encoding="utf-8") as f:
            for ln in f:
                ln = ln.rstrip("\n")
                if not ln:
                    continue
                piece, score = ln.split("\t")
                pieces[piece] = float(score)
        return cls(pieces)

    def to_piece_table(self, table_path) -> None:
        """Serialize to the text piece table ``from_piece_table`` reads.
        Scores print with repr-exact precision so reload is bit-identical."""
        with open(table_path, "w", encoding="utf-8") as f:
            for piece in sorted(self.pieces):
                f.write(f"{piece}\t{self.pieces[piece]!r}\n")

    @classmethod
    def from_words(cls, words) -> "UnigramTokenizer":
        """Piece table = each full word at WORD_SCORE + each of its chars
        at CHAR_SCORE: in-vocab words segment as ONE piece (one word piece
        always beats any multi-piece split), everything else degrades to
        char pieces — the same in-vocab contract as the other stand-ins."""
        pieces: dict[str, float] = {}
        for w in words:
            if not w:
                continue
            pieces[w] = cls.WORD_SCORE
            for ch in w:
                pieces.setdefault(ch, cls.CHAR_SCORE)
        return cls(pieces)

    def _viterbi(self, word: str) -> list[tuple[int, int]]:
        """-> (start, end) piece spans. DP over end positions; on equal
        score the LONGER last piece wins (deterministic, and matches
        unigram's preference for fewer pieces at equal probability)."""
        n = len(word)
        neg_inf = float("-inf")
        best = [neg_inf] * (n + 1)
        best[0] = 0.0
        back = [0] * (n + 1)
        for i in range(1, n + 1):
            for length in range(1, min(self.max_piece_len, i) + 1):
                sub = word[i - length:i]
                score = self.pieces.get(sub)
                if score is None:
                    if length > 1:
                        continue
                    score = self.FALLBACK_SCORE
                cand = best[i - length] + score
                if cand > best[i] or (cand == best[i] and length > i - back[i]):
                    best[i] = cand
                    back[i] = i - length
        spans: list[tuple[int, int]] = []
        i = n
        while i > 0:
            spans.append((back[i], i))
            i = back[i]
        spans.reverse()
        return spans

    def split_word(self, word: str) -> list[tuple[str, int, int]]:
        return [(word[s:e], s, e) for s, e in self._viterbi(word)]


# --------------------------------------------------------------------------
# Unified HF tokenizer.json adapter (src/pipelines/hf_tokenizers.rs)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class SpecialTokenMap:
    """The ``special_token_map.json`` contract the reference deserializes
    (hf_tokenizers.rs:34-62): ``unk_token`` required, six optional named
    slots, optional ``additional_special_tokens`` set."""
    unk_token: str
    pad_token: str | None = None
    bos_token: str | None = None
    sep_token: str | None = None
    cls_token: str | None = None
    eos_token: str | None = None
    mask_token: str | None = None
    additional_special_tokens: frozenset = frozenset()

    _SLOTS = ("pad_token", "bos_token", "sep_token", "cls_token",
              "eos_token", "mask_token")

    @staticmethod
    def _string_or_struct(value):
        """A slot value is either a plain string or an added-token struct
        whose ``content`` field carries the string — the reference's
        string_or_added_token_struct visitor (hf_tokenizers.rs:64-102)."""
        if isinstance(value, dict):
            return value.get("content")
        return value

    @classmethod
    def from_file(cls, path) -> "SpecialTokenMap":
        import json
        with open(path, encoding="utf-8") as f:
            raw = json.load(f)
        if "unk_token" not in raw:
            raise ValueError(
                f"{path}: special token map requires unk_token")
        kw = {"unk_token": cls._string_or_struct(raw["unk_token"])}
        for slot in cls._SLOTS:
            if slot in raw:
                kw[slot] = cls._string_or_struct(raw[slot])
        extra = raw.get("additional_special_tokens")
        if extra:
            kw["additional_special_tokens"] = frozenset(
                cls._string_or_struct(t) for t in extra)
        return cls(**kw)

    def to_file(self, path) -> None:
        """Serialize in the plain-string form ``from_file`` reads (the
        struct form is read-side only, as in the reference)."""
        import json
        out: dict = {"unk_token": self.unk_token}
        for slot in self._SLOTS:
            v = getattr(self, slot)
            if v is not None:
                out[slot] = v
        if self.additional_special_tokens:
            out["additional_special_tokens"] = sorted(
                self.additional_special_tokens)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f, ensure_ascii=False)


def from_tokenizer_json(tokenizer_path, special_token_map_path=None):
    """HFTokenizer::from_file (hf_tokenizers.rs:134-155): mount whatever
    tokenizer a checkpoint's unified ``tokenizer.json`` describes — the
    public tokenizers-library schema — dispatching on ``model.type``:

    * ``WordPiece`` -> :class:`WordPieceTokenizer` (vocab map mounted as
      checkpoint ids; ``lowercase`` / ``strip_accents`` lifted from a
      BertNormalizer block when present, matching from_vocab_file's flags);
    * ``BPE`` -> :class:`BPETokenizer` (merges accepted in BOTH published
      forms: legacy ``"a b"`` strings and the current ``["a", "b"]``
      pairs; vocab map mounted for convert_token_to_id);
    * ``Unigram`` -> :class:`UnigramTokenizer` (``[piece, score]`` rows).

    Returns ``(tokenizer, special_token_map)``; the map comes from the
    sidecar file when given (the reference requires it), else is derived
    from the model block's ``unk_token`` so single-file checkpoints mount
    too. The map is also attached to the tokenizer as
    ``special_token_map``, the field the reference exposes
    (hf_tokenizers.rs:105-110)."""
    import json
    with open(tokenizer_path, encoding="utf-8") as f:
        spec = json.load(f)
    model = spec.get("model")
    if not isinstance(model, dict) or "type" not in model:
        raise ValueError(f"{tokenizer_path}: no model.type block")
    mtype = model["type"]
    if mtype == "WordPiece":
        vocab = model.get("vocab") or {}
        norm = spec.get("normalizer") or {}
        lower = bool(norm.get("lowercase", False))
        tok = WordPieceTokenizer(
            vocab, lower_case=lower,
            strip_accents=norm.get("strip_accents"),
            max_input_chars_per_word=model.get(
                "max_input_chars_per_word", 100))
        tok.token_to_id = dict(vocab)
        default_unk = model.get("unk_token", WordPieceTokenizer.UNK)
    elif mtype == "BPE":
        merges = []
        for entry in model.get("merges") or []:
            if isinstance(entry, str):
                a, b = entry.split(" ")
            else:
                a, b = entry
            merges.append((a, b))
        tok = BPETokenizer(merges, vocab=model.get("vocab"))
        default_unk = model.get("unk_token") or "<unk>"
    elif mtype == "Unigram":
        tok = UnigramTokenizer(
            {piece: float(score) for piece, score in model.get("vocab") or []})
        default_unk = "<unk>"
    else:
        raise ValueError(
            f"{tokenizer_path}: unsupported model.type {mtype!r}")
    if special_token_map_path is not None:
        stm = SpecialTokenMap.from_file(special_token_map_path)
    else:
        stm = SpecialTokenMap(unk_token=default_unk)
    tok.special_token_map = stm
    if mtype == "WordPiece":
        tok.UNK = stm.unk_token
    return tok, stm


def to_tokenizer_json(tok, tokenizer_path) -> None:
    """Serialize any of the three tokenizers to the unified
    ``tokenizer.json`` model block ``from_tokenizer_json`` reads — the
    write side of the hf_tokenizers.rs surface, so a trained stand-in can
    be exported to the checkpoint format. Round-trip is bit-identical
    tokenization (pinned in tests)."""
    import json
    if isinstance(tok, WordPieceTokenizer):
        vocab = getattr(tok, "token_to_id", None) or {
            t: i for i, t in enumerate(sorted(tok.vocab))}
        spec = {
            "version": "1.0",
            "normalizer": {"type": "BertNormalizer",
                           "lowercase": tok.lower_case,
                           "strip_accents": tok.strip_accents},
            "model": {"type": "WordPiece", "unk_token": tok.UNK,
                      "continuing_subword_prefix": "##",
                      "max_input_chars_per_word":
                          tok.max_input_chars_per_word,
                      "vocab": vocab},
        }
    elif isinstance(tok, BPETokenizer):
        ordered = [p for p, _ in sorted(tok.ranks.items(),
                                        key=lambda kv: kv[1])]
        vocab = tok.vocab
        if vocab is None:
            vocab = {_B2U[b]: b for b in range(256)}
            for a, b in ordered:
                vocab.setdefault(a + b, len(vocab))
        spec = {
            "version": "1.0",
            "model": {"type": "BPE", "vocab": vocab,
                      "merges": [[a, b] for a, b in ordered]},
        }
    elif isinstance(tok, UnigramTokenizer):
        spec = {
            "version": "1.0",
            "model": {"type": "Unigram",
                      "vocab": [[p, tok.pieces[p]]
                                for p in sorted(tok.pieces)]},
        }
    else:
        raise TypeError(f"unsupported tokenizer {type(tok).__name__}")
    with open(tokenizer_path, "w", encoding="utf-8") as f:
        json.dump(spec, f, ensure_ascii=False)


@dataclass
class InputFeature:
    """One sliding-window span, with special tokens added.

    Mirrors reference InputFeature (token_classification.rs:193-207):
    input_ids, offsets (None for specials), mask, reference_feature flags,
    example_index.
    """
    input_ids: list[int]
    begins: list[int]        # -1 for special tokens
    ends: list[int]          # -1 for special tokens
    masks: list[int]
    reference_feature: list[bool]
    example_index: int


def _build_with_special_tokens(
    ids: list[int], begins: list[int], ends: list[int], masks: list[int]
) -> tuple[list[int], list[int], list[int], list[int]]:
    """[CLS] content [SEP] — adds 2 special tokens (n_special_tokens=2)."""
    return (
        [CLS_ID] + ids + [SEP_ID],
        [-1] + begins + [-1],
        [-1] + ends + [-1],
        [MASK_SPECIAL] + masks + [MASK_SPECIAL],
    )


def _reference_feature_flag(
    start_token: int,
    end_token: int,
    total_length: int,
    doc_stride: int,
    span_len: int,
    span_masks: list[int],
) -> list[bool]:
    """Ownership flags: which positions of this span "own" their token.

    Port of get_reference_feature_flag (token_classification.rs:885-928):
    interior span edges disown doc_stride/2 tokens (+ adjacent specials).
    For an odd stride the start edge disowns the extra middle token, so the
    ``doc_stride`` overlap is owned exactly once (the reference's two
    ``doc_stride / 2`` cutoffs own it twice).
    """
    if start_token > 0:
        leading_special = 0
        for m in span_masks:
            if m != MASK_SPECIAL:
                break
            leading_special += 1
        start_cutoff = doc_stride - doc_stride // 2 + leading_special
    else:
        start_cutoff = 0
    if end_token < total_length:
        trailing_special = 0
        for m in reversed(span_masks):
            if m != MASK_SPECIAL:
                break
            trailing_special += 1
        end_cutoff = span_len - doc_stride // 2 - trailing_special
    else:
        end_cutoff = span_len
    flags = [True] * span_len
    for i in range(min(start_cutoff, span_len)):
        flags[i] = False
    for i in range(max(end_cutoff, 0), span_len):
        flags[i] = False
    return flags


def generate_features(
    text: str, example_index: int, max_length: int = 64, n_special: int = 2,
    tokenizer: Tokenizer = CHUNK,
) -> list[InputFeature]:
    """Split one text into overlapping spans.

    Port of generate_features (token_classification.rs:808-882):
      max_content_length = max_length - n_special
      doc_stride = max_length // 4
      while len(spans) * doc_stride < n_tokens:
          end = min(start + max_content_length, n_tokens)
          ... emit span ...
          if end == n_tokens: break
          start = end - doc_stride
    """
    tok = tokenizer.tokenize_with_offsets(text)
    total = len(tok.ids)
    max_content_length = max_length - n_special
    doc_stride = max_length // 4

    spans: list[InputFeature] = []
    start_token = 0
    while len(spans) * doc_stride < total:
        end_token = min(start_token + max_content_length, total)
        ids, begins, ends, masks = _build_with_special_tokens(
            tok.ids[start_token:end_token],
            tok.begins[start_token:end_token],
            tok.ends[start_token:end_token],
            tok.masks[start_token:end_token],
        )
        flags = _reference_feature_flag(
            start_token, end_token, total, doc_stride, len(ids), masks
        )
        spans.append(InputFeature(ids, begins, ends, masks, flags, example_index))
        if end_token == total:
            break
        start_token = end_token - doc_stride
    return spans
