"""Dictionary-based toxicity scoring ([north-rule] stage).

BASELINE.json north_rule names a "PII/toxicity-scrub pipeline"; the
reference repo has no toxicity component, so this stage is engine-native:
a deterministic wordlist scorer in the same style as the heuristic
quality rules — no model download, fully reproducible, and expressible
in all three dialects we verify against (Python ``re`` kernel, Spark
``regexp_count`` Catalyst column, DuckDB ``regexp_extract_all`` oracle).

Score = matches of the toxic-term alternation in ``lower(text)`` divided
by the word count (min 1).  The pattern uses only ASCII letters and
``\\b`` boundaries, which mean the same thing in Python ``re.ASCII``,
Java's default ``\\w``, and RE2 — verified by the q28 oracle.

Terms are ordered longest-first so multi-word phrases win over any
single-word prefix in ordered-alternation engines.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from itertools import accumulate

import numpy as np

# deliberately mild, non-slur insult/abuse vocabulary — the point is the
# pipeline stage, swappable for a production lexicon via ``make_pattern``
TOXIC_TERMS = (
    "kill yourself",
    "go to hell",
    "piece of garbage",
    "waste of space",
    "shut up",
    "worthless",
    "disgusting",
    "pathetic",
    "scumbag",
    "dumbass",
    "jackass",
    "moron",
    "idiot",
    "loser",
    "freak",
)


def make_pattern(terms=TOXIC_TERMS) -> str:
    ordered = sorted(terms, key=len, reverse=True)
    return r"\b(?:" + "|".join(re.escape(t) for t in ordered) + r")\b"


TOXICITY_PATTERN = make_pattern()
_TOX_RE = re.compile(TOXICITY_PATTERN, re.ASCII)

_WORD_RE = re.compile(r"\S+")


def toxic_match_count(text: str) -> int:
    return len(_TOX_RE.findall((text or "").lower()))


def toxicity_score(text: str) -> float:
    """Toxic-term matches per word, in [0, ~1]."""
    words = len(_WORD_RE.findall(text or ""))
    return toxic_match_count(text) / max(words, 1)


def toxic_match_counts(texts) -> np.ndarray:
    """``[toxic_match_count(t) for t in texts]`` as an int64 array,
    running the regex only on the texts that can match.  A match is a
    term occurring literally in the lowered text, so a text without any
    term as a substring counts 0.  ``str.find`` scans the NUL-joined
    lowered batch for each term (a term holds no NUL, so no hit spans
    two texts) and jumps to the next text after each hit.  Text starts
    come from the lengths, so a NUL inside a text is harmless."""
    lowered = [(t or "").lower() for t in texts]
    starts = list(accumulate((len(t) + 1 for t in lowered), initial=0))
    joined = "\x00".join(lowered)
    hits = set()
    for term in TOXIC_TERMS:
        pos = joined.find(term)
        while pos >= 0:
            i = bisect_right(starts, pos) - 1
            hits.add(i)
            pos = joined.find(term, starts[i + 1])
    counts = np.zeros(len(lowered), dtype=np.int64)
    for i in hits:
        counts[i] = len(_TOX_RE.findall(lowered[i]))
    return counts
