"""Deterministic synthetic web-page generator (FIXTURES.md).

Produces the input table mandated by BASELINE.json's input_hint —
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)`` —
plus gold tables (entities, triples, alias dictionary) known BY CONSTRUCTION,
so the P/R ≥ 0.95 gate has an exact oracle. Single fixed seed, no external
data, index-addressable: ``gen_page(i)`` is a pure function of ``i``, so the
same generator runs in-driver for pytest fixtures and distributed (an index
range + ``mapInPandas``) for the 200k-page bench tier.

Design constraints encoded here:
- entity surface words are Capitalized, filler vocabulary is lowercase; the
  sub-word gazetteer is therefore collision-free by construction;
- domains are Zipf-distributed (hot-domain skew), with a giant-document tail
  (sliding-window + length-bucketing exercise);
- multibyte names (Amélie, São Paulo, München) test char-offset discipline;
- ~20% of mentions use aliases; some aliases are shared by 2+ entities to
  force the stage-4 ANN rerank path; relation sentences only ever use
  dictionary-covered entities (unlinked mentions appear in distractors only,
  exercising stage-5 CC without perturbing triple gold).
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field

from .config import NER_LABEL2ID, RELATIONS
from .textnorm import normalize_mention
from .tokenization import CHUNK, Tokenizer

SEED = 42

# --- entity catalog (deterministic) -----------------------------------------

_PER_FIRST = [
    "Amy", "John", "Marta", "Amélie", "José", "Zoë", "Viktor", "Noriko",
    "Pavel", "Ingrid", "Tariq", "Bianca", "Søren", "Lucía", "Dmitri", "Wei",
]
_PER_LAST = [
    "Smith", "Durand", "García", "Müller", "Tanaka", "Novak", "Okafor",
    "Silva", "Haugen", "Rossi", "Kowalski", "Ivanov", "Chen", "Dubois",
]
_ORG_HEAD = [
    "Acme", "Globex", "Initech", "Vandelay", "Umbra", "Zenith", "Quantia",
    "Borealis", "Helios", "Nimbus", "Vertex", "Oriona",
]
_ORG_TAIL = ["Corp", "Labs", "Group", "Industries", "Systems", "Holdings", "Partners"]
_LOC_NAMES = [
    "Paris", "Berlin", "Lisbon", "Oslo", "Kyoto", "Warsaw", "Lagos",
    "Bogotá", "München", "Seville", "Tromsø", "Quito", "Adelaide",
    "São Paulo", "New York", "Hong Kong", "Addis Ababa", "Costa Rica",
    "Santa Fe", "Port Louis",
]
# lowercase-only filler vocabulary — disjoint from entity pieces by case
_FILLER = (
    "data query scan row column value table batch stream merge group sort "
    "hash join filter window order part line small big fast slow key agg "
    "vector spark the a of and with over under near while press today "
    "report market sector index price growth announced quarterly"
).split()
_SIGNATURE_POOL = (
    "harbor museum festival textile mining software banking shipping "
    "pottery vineyard glacier campus stadium cathedral observatory"
).split()

_DISTRACTOR_VERBS = ["visited", "criticized", "praised", "mentioned", "photographed"]
_REL_PREFIXES = ["", "According to the report, ", "Sources confirmed that ",
                 "It is known that "]
_REL_SUFFIXES = [".", " since 2019.", " for many years.", ", analysts said."]


@dataclass
class EntityDef:
    entity_id: str
    etype: str                 # PER | ORG | LOC
    canonical: str
    aliases: list[str] = field(default_factory=list)
    signature: list[str] = field(default_factory=list)
    linked: bool = True        # present in the alias dictionary?


def entity_catalog() -> list[EntityDef]:
    rng = random.Random(SEED)
    ents: list[EntityDef] = []
    # persons: first x last product, trimmed
    k = 0
    for fn in _PER_FIRST:
        for ln in rng.sample(_PER_LAST, 4):
            name = f"{fn} {ln}"
            ents.append(EntityDef(f"PER_{k:04d}", "PER", name,
                                  aliases=[fn if k % 7 == 0 else name],
                                  signature=rng.sample(_SIGNATURE_POOL, 3)))
            k += 1
    k = 0
    for head in _ORG_HEAD:
        for tail in rng.sample(_ORG_TAIL, 3):
            name = f"{head} {tail}"
            ents.append(EntityDef(f"ORG_{k:04d}", "ORG", name,
                                  aliases=[head, name],
                                  signature=rng.sample(_SIGNATURE_POOL, 3)))
            k += 1
    for k, name in enumerate(_LOC_NAMES):
        ents.append(EntityDef(f"LOC_{k:04d}", "LOC", name, aliases=[name],
                              signature=rng.sample(_SIGNATURE_POOL, 3)))
    # ambiguous alias: "Springfield" shared by two extra locations
    ents.append(EntityDef("LOC_0100", "LOC", "Springfield Ohio",
                          aliases=["Springfield"],
                          signature=["pottery", "textile", "harbor"]))
    ents.append(EntityDef("LOC_0101", "LOC", "Springfield Oregon",
                          aliases=["Springfield"],
                          signature=["glacier", "vineyard", "observatory"]))
    # shared-alias orgs forcing ANN rerank
    ents.append(EntityDef("ORG_0100", "ORG", "Apex Mining Group",
                          aliases=["Apex"], signature=["mining", "shipping", "harbor"]))
    ents.append(EntityDef("ORG_0101", "ORG", "Apex Software Labs",
                          aliases=["Apex"], signature=["software", "campus", "banking"]))
    # unlinked entities (not in alias dict): exercise CC grouping of mentions
    ents.append(EntityDef("PER_9000", "PER", "Orla Quizzle", linked=False,
                          signature=["museum", "festival", "stadium"]))
    ents.append(EntityDef("ORG_9000", "ORG", "Wobble Foundry", linked=False,
                          signature=["pottery", "glacier", "campus"]))
    return ents


def build_gazetteer(catalog: list[EntityDef] | None = None,
                    tokenizer: Tokenizer = CHUNK) -> dict[int, int]:
    """Sub-word-piece-id -> NER label id, over every surface form.

    Tags are assigned PER WORD (first word -> B-<type>, later words ->
    I-<type>) and keyed on the word's INITIAL piece only; the stand-in
    encoder forward-fills labels onto continuation positions (mirroring how
    a trained model labels continuations consistently with their word via
    context). This keeps the consolidation score product high (agreeing
    sub-tokens multiply their scores; disagreeing ones multiply 1-score,
    token_classification.rs:1174-1182) and avoids cross-entity continuation-
    piece collisions ("##a" is shared by PER/ORG/LOC words). Deterministic
    first-wins on the (rare) initial-piece collision.

    Each word is keyed on ``tokenizer``'s initial piece for it — the
    gazetteer must agree with whatever tokenizer featurizes the sentences
    (a real checkpoint's label head is trained against its own vocab in
    exactly this sense)."""
    catalog = catalog or entity_catalog()
    gaz: dict[int, int] = {}
    for ent in catalog:
        for surface in {ent.canonical, *ent.aliases}:
            for wi, word in enumerate(surface.split()):
                tag = "B" if wi == 0 else "I"
                label = NER_LABEL2ID[f"{tag}-{ent.etype}"]
                t = tokenizer.tokenize_with_offsets(word)
                if not t.pieces:
                    continue
                # never plant a degenerate single-char key for a longer
                # word (a char-fallback piece like "J" for "J.Crew" would
                # tag EVERY corpus word starting with that char); the
                # vocab includes the surface's sub-words, so this only
                # fires for genuinely unmatchable fragments
                if len(word) > 1 and t.ends[0] - t.begins[0] == 1:
                    continue
                if t.pieces[0] == getattr(tokenizer, "UNK", None):
                    continue    # ditto: [UNK] would match every OOV word
                gaz.setdefault(t.ids[0], label)
    return gaz


def wordpiece_vocab_words() -> list[str]:
    """Deterministic vocab seed for the pipeline's WordPiece tokenizer:
    every word of every catalog surface form (entity words tokenize as one
    piece, so the gazetteer keys on the full word) plus the relation trigger
    words; all other corpus words degrade to ##-char pieces via the
    from_words char fallback — never [UNK], and multi-piece words keep the
    consolidation path exercised."""
    from .config import RELATIONS
    from .tokenization import _WORD_RE
    words: set[str] = set()
    for ent in entity_catalog():
        for surface in {ent.canonical, *ent.aliases}:
            # split with the SAME word regex the tokenizer uses, so
            # punctuated surfaces ("Jean-Pierre", "O'Brien") contribute
            # their sub-words and never degrade to char fallback
            words.update(m.group(0) for m in _WORD_RE.finditer(surface))
    for rel in RELATIONS.values():
        words.update(rel["trigger"].split())
    return sorted(words)


def alias_rows(catalog: list[EntityDef] | None = None) -> list[dict]:
    """alias_dict rows (FIXTURES.md §4): normalized alias -> entity, with a
    textual description whose tokens make the ANN rerank separable."""
    catalog = catalog or entity_catalog()
    rows = []
    for ent in catalog:
        if not ent.linked:
            continue
        desc = f"{ent.canonical} {' '.join(ent.signature)}"
        for surface in {ent.canonical, *ent.aliases}:
            rows.append({
                "alias": normalize_mention(surface),
                "entity_id": ent.entity_id,
                "canonical_name": ent.canonical,
                "desc": desc,
                "prior": 1.0 if surface == ent.canonical else 0.5,
            })
    return rows


# --- page generation ---------------------------------------------------------

_LANGS = ["en"] * 17 + ["fr", "de", "es"]
_N_DOMAINS = 50
_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def _zipf_domain(rng: random.Random) -> str:
    # inverse-CDF Zipf(s=1.2) over _N_DOMAINS — hot head, long tail
    u = rng.random()
    acc, norm = 0.0, sum(1.0 / (r ** 1.2) for r in range(1, _N_DOMAINS + 1))
    for r in range(1, _N_DOMAINS + 1):
        acc += (1.0 / (r ** 1.2)) / norm
        if u <= acc:
            return f"site{r:03d}.example.com"
    return f"site{_N_DOMAINS:03d}.example.com"


def _surface(ent: EntityDef, rng: random.Random) -> str:
    if ent.aliases and rng.random() < 0.2:
        return rng.choice(ent.aliases)
    return ent.canonical


def _filler_sentence(rng: random.Random, n_words: int | None = None) -> str:
    n = n_words or rng.randint(5, 12)
    return " ".join(rng.choice(_FILLER) for _ in range(n)) + "."


class PageGen:
    """Index-addressable page generator; pure function of (SEED, index)."""

    def __init__(self) -> None:
        self.catalog = entity_catalog()
        self.by_type: dict[str, list[EntityDef]] = {}
        for e in self.catalog:
            if e.linked:
                self.by_type.setdefault(e.etype, []).append(e)
        self.unlinked = [e for e in self.catalog if not e.linked]
        self.relations = list(RELATIONS.items())

    def _relation_sentence(self, rng: random.Random) -> tuple[str, dict]:
        pred, spec = self.relations[rng.randrange(len(self.relations))]
        subj = rng.choice(self.by_type[spec["subj"]])
        obj = rng.choice(self.by_type[spec["obj"]])
        s_sur, o_sur = _surface(subj, rng), _surface(obj, rng)
        prefix = rng.choice(_REL_PREFIXES)
        suffix = rng.choice(_REL_SUFFIXES)
        extras = ""
        # co-plant signature words IN the same sentence when an ambiguous
        # alias is used, so the stage-4 ANN rerank is decidable from the
        # mention's sentence context
        for ent, sur in ((subj, s_sur), (obj, o_sur)):
            if sur in ent.aliases and sur != ent.canonical:
                extras += (f" near the {ent.signature[0]} {ent.signature[1]} "
                           f"{ent.signature[2]}")
        sent = f"{prefix}{s_sur} {spec['trigger']} {o_sur}{extras}{suffix}"
        gold = {"subj_id": subj.entity_id, "pred": pred, "obj_id": obj.entity_id}
        return sent, gold

    def _distractor_sentence(self, rng: random.Random) -> str:
        a = rng.choice(self.by_type["PER"] + self.unlinked)
        b = rng.choice(self.by_type["LOC"] + self.by_type["ORG"])
        verb = rng.choice(_DISTRACTOR_VERBS)
        return f"{_surface(a, rng)} {verb} {_surface(b, rng)} yesterday."

    def gen_page(self, index: int, giant_every: int = 97) -> tuple[dict, list[dict]]:
        """-> (page row, gold triple rows). Deterministic per index."""
        from .extract import wrap_html

        rng = random.Random((SEED << 20) ^ index)
        domain = _zipf_domain(rng)
        url = f"https://{domain}/page/{index}"
        lang = _LANGS[rng.randrange(len(_LANGS))]
        warc_ts = _EPOCH + _dt.timedelta(seconds=index * 37 % 31_536_000)

        lines: list[str] = [f"page {index} report"]
        golds: list[dict] = []
        if lang == "en":
            n_rel = rng.randint(1, 3)
            for si in range(n_rel):
                sent, gold = self._relation_sentence(rng)
                gold.update({"url": url})
                golds.append(gold)
                lines.append(sent)
            for _ in range(rng.randint(0, 2)):
                lines.append(self._distractor_sentence(rng))
            n_fill = 250 if index % giant_every == 0 else rng.randint(2, 6)
            for _ in range(n_fill):
                lines.append(_filler_sentence(rng))
        else:
            for _ in range(rng.randint(3, 8)):
                lines.append(_filler_sentence(rng))

        text = "\n".join(lines)
        page = {
            "url": url,
            "warc_ts": warc_ts,
            "html": wrap_html(text, url),
            "text": text,
            "lang": lang,
        }
        # dedupe gold triples within page (same fact may be planted twice)
        seen, uniq = set(), []
        for g in golds:
            k = (g["subj_id"], g["pred"], g["obj_id"])
            if k not in seen:
                seen.add(k)
                uniq.append(g)
        return page, uniq


def gen_pages(start: int, end: int) -> tuple[list[dict], list[dict]]:
    """Generate pages [start, end) + gold triples. Pure, order-stable."""
    g = PageGen()
    pages, golds = [], []
    for i in range(start, end):
        p, gd = g.gen_page(i)
        pages.append(p)
        golds.extend(gd)
    return pages, golds

