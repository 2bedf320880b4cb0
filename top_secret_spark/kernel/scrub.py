"""The scrub kernel: scan → mapping → single-pass substitution → restore.

Pure Python (no Spark imports); wrapped by Arrow pandas UDFs in
``top_secret_spark.operators.scrub``.  Every semantic choice below is
pinned to the reference:

  * scan / dispatch / mapping build — lib/top_secret/text.rb:137-158,204-211
  * single-pass ordered-alternation substitution — text.rb:216-224 and the
    v1.0.1 no-refilter fix (CHANGELOG.md:5-7)
  * filter (scan + substitute) — text.rb:165-171
  * restore — lib/top_secret/filtered_text.rb:43-58

The mapping is an insertion-ordered list of (key, value) pairs — order is
load-bearing (substitution precedence and restore order), which is why the
Spark schema is array<struct<key,value>>, never MapType.
"""

from __future__ import annotations

import re
import string
from functools import lru_cache
from re import _constants as _sre
from re import _parser as _sre_parser

import numpy as np

from .filters import DEFAULT_CONFIG, NERFilter, RegexFilter, ScrubConfig, TopSecretError
from .patterns import UNRESTORED_RE


def scan_text(
    text: str,
    entities: list[dict] | None = None,
    config: ScrubConfig = DEFAULT_CONFIG,
) -> list[tuple[str, str]]:
    """Detect sensitive values; return the ordered mapping (text.rb:137-158).

    For each active filter in order: regex filters scan the text, NER
    filters select from ``entities`` (pre-extracted, like the stubbed
    Mitie model in spec/spec_helper.rb:26-31).  Matched values are
    de-duplicated preserving first occurrence and enumerated from 1 per
    filter (text.rb:204-211); a later filter re-matching a value already
    mapped under the same key overwrites it (mapping.merge! semantics).
    """
    entities = entities or []
    mapping: dict[str, str] = {}
    for f in config.all_filters():
        if isinstance(f, RegexFilter):
            values = f.call(text)
        elif isinstance(f, NERFilter):
            values = f.call(entities, config.min_confidence_score)
        else:
            raise TopSecretError(
                "Unsupported filter. Expected RegexFilter or NERFilter, "
                f"but got {type(f).__name__}"
            )
        # dedupe preserving first-occurrence order, enumerate from 1
        for i, value in enumerate(dict.fromkeys(values), 1):
            mapping[f"{f.label}_{i}"] = value
    return list(mapping.items())


def substitute_text(text: str, mapping: list[tuple[str, str]]) -> str:
    """Single-pass ordered-alternation substitution (text.rb:216-224).

    Invert the mapping to value → "[KEY]" (last writer wins for duplicate
    values, so a later filter's label takes precedence —
    spec/top_secret/text_spec.rb:65-79), then ONE left-to-right pass over
    the original text with an ordered alternation of literal-escaped
    values.  At each position the first alternative in mapping insertion
    order wins (Ruby Regexp.union and Python re share ordered-alternation
    semantics).  Because it is a single pass, emitted placeholder tokens
    can never be re-matched — the reference's v1.0.1 correctness fix.
    Chained regexp_replace calls would re-introduce that bug, which is why
    this must live in a pandas UDF rather than Catalyst expressions.
    """
    if not mapping:
        return text
    value_to_label: dict[str, str] = {}
    for key, value in mapping:
        value_to_label[value] = f"[{key}]"
    if "" in value_to_label:
        # degenerate empty-string value (never produced by the built-in
        # patterns, possible from a pathological custom filter): keep
        # the regex path, whose empty-alternative semantics are the
        # definition
        pattern = "|".join(re.escape(v) for v in value_to_label)
        return re.sub(pattern, lambda m: value_to_label[m.group(0)], text)
    # Pure-string single pass with identical semantics to
    # `re.sub("|".join(map(re.escape, values)), ...)`: the regex engine
    # advances position by position and takes the FIRST alternative (in
    # mapping insertion order) matching at the current position — i.e.
    # earliest start wins, insertion order breaks same-start ties, and a
    # match's span is consumed (emitted placeholders can never re-match).
    # Building the alternation compiled a FRESH regex per row (values
    # differ row to row, so re's pattern cache never hits) — the compile
    # dominated the whole substitution stage; str.find is literal by
    # construction and needs no escaping.  Equivalence is
    # hypothesis-gated against the regex formulation.
    vals = list(value_to_label)
    events: list[tuple[int, int]] = []
    for oi, v in enumerate(vals):
        start = text.find(v)
        while start != -1:
            events.append((start, oi))
            start = text.find(v, start + 1)
    if not events:
        return text
    events.sort()
    out: list[str] = []
    cursor = 0
    for start, oi in events:
        if start < cursor:
            continue
        v = vals[oi]
        out.append(text[cursor:start])
        out.append(value_to_label[v])
        cursor = start + len(v)
    out.append(text[cursor:])
    return "".join(out)


def filter_text(
    text: str,
    entities: list[dict] | None = None,
    config: ScrubConfig = DEFAULT_CONFIG,
) -> tuple[str, list[tuple[str, str]]]:
    """scan + substitute → (scrubbed output, mapping) (text.rb:165-171)."""
    mapping = scan_text(text, entities, config)
    output = substitute_text(text, mapping) if mapping else text
    return output, mapping


def restore_text(
    text: str, mapping: list[tuple[str, str]]
) -> tuple[str, list[str], list[str]]:
    """Inverse scrub → (output, unrestored, restored) (filtered_text.rb:43-58).

    Sequential (NOT single-pass): for each mapping entry in order, if the
    placeholder "[KEY]" occurs in the current text, record it once in
    ``restored`` and replace ALL occurrences with the value (plain string
    replace, no regex, case-sensitive).  Afterwards ``unrestored`` = every
    remaining token shaped like ``[\\w*_\\d]`` in document order,
    duplicates kept.  Reference quirks preserved: the unrestored pattern
    requires a SINGLE trailing digit, so [PERSON_10] is never reported
    unrestored even though restoring it works (string containment, not the
    regex) — spec/top_secret/filtered_text_spec.rb:31-43.
    """
    output = text
    restored: list[str] = []
    for key, value in mapping:
        placeholder = f"[{key}]"
        if placeholder in output:
            restored.append(placeholder)
            output = output.replace(placeholder, value)
    unrestored = UNRESTORED_RE.findall(output)
    return output, unrestored, restored


# ---------------------------------------------------------------------------
# Batch kernel — the shape the pandas UDFs call.  One Python loop per Arrow
# batch (vectorized at the Spark boundary; regexes precompiled per config).
# ---------------------------------------------------------------------------


# what ``\d``, ``\s`` and ``\w`` match under re.ASCII, the flag every
# RegexFilter compiles with
_ASCII_CATEGORIES = {
    _sre.CATEGORY_DIGIT: string.digits,
    _sre.CATEGORY_SPACE: " \t\n\r\f\v",
    _sre.CATEGORY_WORD: string.ascii_letters + string.digits + "_",
}
_REPEATS = (_sre.MAX_REPEAT, _sre.MIN_REPEAT, _sre.POSSESSIVE_REPEAT)


def _class_chars(items, ascii_mode: bool) -> frozenset | None:
    """ASCII code points a character class matches, or None when it is
    negated or can match outside ASCII."""
    chars: set[int] = set()
    for op, av in items:
        if op is _sre.LITERAL and av < 128:
            chars.add(av)
        elif op is _sre.RANGE and av[1] < 128:
            chars.update(range(av[0], av[1] + 1))
        elif op is _sre.CATEGORY and ascii_mode and av in _ASCII_CATEGORIES:
            chars.update(map(ord, _ASCII_CATEGORIES[av]))
        else:
            return None
    return frozenset(chars)


def _required_sets(items, ascii_mode: bool) -> list[frozenset]:
    """Sets of ASCII code points such that every match of the parsed
    sequence ``items`` holds at least one point of EACH set — a
    necessary condition for a match, never a sufficient one.  Only a
    literal or class that must occur (repeat minimum >= 1), possibly
    inside plain groups, yields a set; a branch yields the union of one
    set per alternative, and only if every alternative has one.
    Lookarounds, anchors, backreferences and flag-scoped groups yield
    nothing."""
    sets: list[frozenset] = []
    for op, av in items:
        if op is _sre.LITERAL:
            if av < 128:
                sets.append(frozenset((av,)))
        elif op is _sre.IN:
            chars = _class_chars(av, ascii_mode)
            if chars:
                sets.append(chars)
        elif op in _REPEATS:
            if av[0] >= 1:
                sets.extend(_required_sets(av[2], ascii_mode))
        elif op is _sre.SUBPATTERN:
            _group, add_flags, del_flags, sub = av
            if not (add_flags or del_flags):
                sets.extend(_required_sets(sub, ascii_mode))
        elif op is _sre.BRANCH:
            alts = [_required_sets(alt, ascii_mode) for alt in av[1]]
            if all(alts):
                sets.append(frozenset().union(*(min(a, key=len) for a in alts)))
    return sets


def _prefilter(f):
    """The row gate of one filter: a tuple of required sets, each the
    ``bytes`` of its ASCII characters (the row must contain one of
    each), ``"entities"`` (the row must carry entities), or None (every
    row)."""
    if type(f) is NERFilter:
        return "entities"
    if type(f) is not RegexFilter:
        return None
    parsed = _sre_parser.parse(f._re.pattern, f._re.flags)
    if parsed.state.flags & re.IGNORECASE:
        return None
    sets = _required_sets(parsed.data, bool(parsed.state.flags & re.ASCII))
    return tuple(dict.fromkeys(bytes(sorted(s)) for s in sets)) or None


@lru_cache(maxsize=32)
def _compiled_plan(config: ScrubConfig):
    """Precompile the filter plan and its row gates once per
    (executor-worker, config)."""
    plan = tuple(config.all_filters())
    return plan, tuple(_prefilter(f) for f in plan)


def _set_presence(texts, sets) -> np.ndarray:
    """rows × sets: does the row contain a character of the set?

    Every set is ASCII, and a UTF-8 byte below 128 is always that ASCII
    character, so byte presence is character presence.  A byte → bit
    mask lookup (bit k: the byte is in set k) OR-reduced over each row's
    bytes gives all of a row's answers at once, 64 sets per pass."""
    from .hashing import encode_batch
    from .langid import chunk_spans

    data, lengths = encode_batch(texts)
    present = np.zeros((len(lengths), len(sets)), dtype=bool)
    for g0 in range(0, len(sets), 64):
        group = sets[g0:g0 + 64]
        lut = np.zeros(256, dtype=np.uint64)
        for k, chars in enumerate(group):
            lut[np.frombuffer(chars, dtype=np.uint8)] |= np.uint64(1 << k)
        mask = np.zeros(len(lengths), dtype=np.uint64)
        for d0, d1, b0, b1 in chunk_spans(lengths):
            clen = lengths[d0:d1]
            nonempty = clen > 0
            if nonempty.any():
                starts = (np.cumsum(clen) - clen)[nonempty]
                mask[d0:d1][nonempty] = np.bitwise_or.reduceat(
                    lut[data[b0:b1]], starts)
        bits = np.arange(len(group), dtype=np.uint64)
        present[:, g0:g0 + len(group)] = (mask[:, None] >> bits) & np.uint64(1)
    return present


def _candidates(texts, entities_list, gates) -> np.ndarray:
    """rows × filters: may the filter match the row?"""
    cand = np.ones((len(texts), len(gates)), dtype=bool)
    sets = list(dict.fromkeys(
        s for g in gates if isinstance(g, tuple) for s in g))
    if sets:
        present = _set_presence(texts, sets)
        column = {s: k for k, s in enumerate(sets)}
    for j, gate in enumerate(gates):
        if gate == "entities":
            cand[:, j] = (
                False if entities_list is None
                else [bool(e) for e in entities_list]
            )
        elif gate is not None:
            cand[:, j] = present[:, [column[s] for s in gate]].all(axis=1)
    return cand


def scrub_batch(
    texts,
    entities_list=None,
    config: ScrubConfig = DEFAULT_CONFIG,
):
    """Scrub an iterable of texts → (outputs, mappings) lists.

    ``entities_list`` is an optional parallel iterable of per-text entity
    lists (each entity a dict with text/tag/score).  Null texts pass
    through as ("", []).

    A filter runs only on the rows its gate admits (``_candidates``): a
    regex filter needs one character of each of its required sets, an
    NER filter needs entities.  Skipping a filter that cannot match adds
    nothing to the mapping, so a row no filter admits is ``(text, [])``
    without a scan — equivalence with ``scan_text`` + ``substitute_text``
    is hypothesis-gated."""
    plan, gates = _compiled_plan(config)
    min_score = config.min_confidence_score
    cand = _candidates(texts, entities_list, gates).tolist()
    outputs: list[str] = []
    mappings: list[list[tuple[str, str]]] = []
    n = len(texts)
    for i in range(n):
        text = texts[i]
        if text is None:
            outputs.append("")
            mappings.append([])
            continue
        admitted = cand[i]
        if not any(admitted):
            outputs.append(text)
            mappings.append([])
            continue
        entities = entities_list[i] if entities_list is not None else None
        entities = entities or []
        mapping: dict[str, str] = {}
        for f, ok in zip(plan, admitted):
            if not ok:
                continue
            if f.kind == "regex":
                values = f.call(text)
            else:
                values = f.call(entities, min_score)
            for j, value in enumerate(dict.fromkeys(values), 1):
                mapping[f"{f.label}_{j}"] = value
        items = list(mapping.items())
        outputs.append(substitute_text(text, items) if items else text)
        mappings.append(items)
    return outputs, mappings


def pii_char_spans(
    text: str,
    entities: list[dict] | None = None,
    config: ScrubConfig = DEFAULT_CONFIG,
    mapping: list[tuple[str, str]] | None = None,
) -> list[tuple[int, int, str]]:
    """Character spans the single-pass substitution would consume, as
    ``(start, end, label)`` — the SAME event scan as ``substitute_text``
    (earliest start wins, mapping insertion order breaks same-start
    ties, a consumed span suppresses any event starting inside it), so
    a span-driven redactor (audio bleep, highlight UI) is guaranteed to
    cover exactly the characters the text scrub replaces — no more, no
    less.  Labels follow ``value_to_label`` (last writer wins for
    duplicate values), identical to the emitted placeholder.

    Pass ``mapping`` when the caller already ran ``scan_text`` on this
    exact (text, entities, config) — the regex scan dominates the scrub
    stage's cost and must not run twice per row."""
    if mapping is None:
        mapping = scan_text(text, entities, config)
    if not mapping:
        return []
    value_to_label: dict[str, str] = {}
    for key, value in mapping:
        value_to_label[value] = key
    vals = [v for v in value_to_label if v != ""]
    events: list[tuple[int, int]] = []
    for oi, v in enumerate(vals):
        start = text.find(v)
        while start != -1:
            events.append((start, oi))
            start = text.find(v, start + 1)
    events.sort()
    spans: list[tuple[int, int, str]] = []
    cursor = 0
    for start, oi in events:
        if start < cursor:
            continue
        v = vals[oi]
        spans.append((start, start + len(v), value_to_label[v]))
        cursor = start + len(v)
    return spans
