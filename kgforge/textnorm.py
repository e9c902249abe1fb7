"""Mention/alias normalization shared by synth (dict build) and link (probe).

Char-level, deterministic: casefold + NFKD + strip combining marks +
whitespace collapse. Matches on normalized forms only — never re-finds
substrings in the original text (offset discipline, SURVEY §7).
"""

from __future__ import annotations

import unicodedata
from functools import lru_cache


@lru_cache(maxsize=1 << 16)
def normalize_mention(surface: str) -> str:
    """Pure function of the surface string; cached because mention surfaces
    are a small, highly repetitive vocabulary while the NFKD + combining
    scan costs ~µs per call and runs per mention occurrence (253k rows at
    sf1.0, once per entity inside the fused NER/NLI eval)."""
    s = unicodedata.normalize("NFKD", surface.casefold())
    s = "".join(ch for ch in s if not unicodedata.combining(ch))
    return " ".join(s.split())
