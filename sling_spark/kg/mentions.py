"""Mention detection + entity linking + (fused) relation extraction.

Reference semantics (sling/nlp/silver/mentions.cc, sling/nlp/kb/
resolver.cc, sling/nlp/silver/relations.cc), per sentence unit:

1. **Span enumeration** (SpanPopulator, mentions.cc:45-100): every token
   span up to ``max_span`` whose phrase fingerprint hits the phrase
   table is a candidate; spans start/end on non-skipped tokens.
2. **Common-word pruning** (CommonWordPruner, mentions.h:126): a
   single-token candidate whose surface is all-lowercase and whose IDF
   is below threshold is pruned.
3. **Span cover** (SpanChart::Solve, chart.cc:52-98): DP minimum-cost
   cover — skip costs 2, any span costs 1; ties prefer the longer span.
4. **Resolution** (ResolverContext, resolver.cc:31-151): score =
   ``(base + context[entity]) * count``; case-form mismatch x0.1;
   locally-mentioned x30 (resolver.h:50-54). The winner feeds the
   context (500/popularity for itself, count/popularity per outbound
   link) — sequential within a document, parallel across documents.
5. **Relations** (relations.cc:28-227): per sentence, subjects left to
   right, each subject's KB facts in property-priority order, closest
   unused target mention wins, one incoming relation per target.

The reference runs these as ONE annotator chain per document
(silver.py:105-169); we do the same: ONE Arrow-batched mapInPandas pass
emits mention rows and relation rows together (a `kind` column splits
them), with the phrase table / IDF / links / popularity / facts loaded
worker-side from a Parquet asset store (assets.AssetStore; only its
path is broadcast) — the analog of SLING memory-mapping its repository
files per worker (sling/file/repository.h:30-60). No shuffle anywhere
in the annotation path.

Execution split (round-2 vectorization): candidate-span ENUMERATION
(SpanPopulator + pruners + the literal date/number/measure annotators)
runs as NumPy array ops over the concatenated tokens of a whole Arrow
batch; the DP cover is a compressed solve over candidate ends only; the
ORDER-DEPENDENT stages (resolver context evolution, anaphora,
abbreviation map, relation constraints) stay scalar inside the
per-document call (SURVEY.md §4 risk #4), where they touch candidates
and mentions, never raw tokens.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.fingerprint import FP_SKIPPED
from ..functions.normalize import (CASE_NONE, G_FEM, G_MASC, G_UNKNOWN,
                                   PRONOUN_GENDER)
from ..sources.kb import BLOCKED_PROPERTIES, PROPERTY_PRIORITY

ANNOTATIONS_SCHEMA = (
    "kind string, repo string, path string, commit string, "
    "content_sha string, sentence int, begin int, end int, "
    "phrase string, fp long, entity string, score double, form int, "
    "anaphora boolean, pred string, obj string"
)

MENTION_COLS = [
    "repo", "path", "commit", "content_sha", "sentence",
    "begin", "end", "phrase", "fp", "entity", "score", "form", "anaphora",
]
RELATION_COLS = [
    "repo", "path", "commit", "content_sha", "sentence",
    "subj", "pred", "obj", "begin", "end",
]

# resolver weights — resolver.h:50-54 semantics
BASE_CONTEXT = 1e-3
MENTION_WEIGHT = 500.0
CASE_PENALTY = 0.1
LOCAL_BOOST = 30.0
TOKEN_SKIP_COST = 2.0
SPAN_COST = 1.0
DEFAULT_MIN_IDF = 1.2
DEFAULT_MAX_SPAN = 5
ANAPHORA_WINDOW = 3  # sentences an antecedent may be away (anaphora.cc)

# pronoun descriptors with grammatical gender: see
# functions/normalize.py (per-word lexical attribute, shared with the
# tokenizer's cached word_attrs so pronoun positions come vectorized)
PRONOUNS = set(PRONOUN_GENDER)


@dataclass
class KbAssets:
    """Broadcast-side lookup structures (all dimension-sized)."""

    phrase_table: dict[int, list[tuple]]  # fp -> [(entity, count, form, reliable)]
    idf: dict[int, float]  # token fp -> idf
    popularity: dict[str, int]  # entity -> popularity count
    links: dict[str, list[tuple[str, int]]]  # src -> [(dst, count)]
    statements: dict[str, list[tuple[str, str]]]  # subj -> [(pid, obj)]
    gender: dict[str, int] | None = None  # entity -> G_* (anaphora agreement)


def _sentence_bounds(brks) -> list[tuple[int, int]]:
    # NumPy twin of biaffine.sentence_bounds (brk >= 2 opens a
    # sentence); tests pin the two equal on arbitrary break sequences —
    # change BOTH or the chart and the decoders disagree on windows
    n = len(brks)
    if n == 0:
        return []
    cuts = np.nonzero(np.asarray(brks[1:]) >= 2)[0] + 1  # BREAK_SENTENCE
    starts = [0, *cuts.tolist()]
    return list(zip(starts, starts[1:] + [n]))


# uint64 constants for the vectorized FingerprintCat (fingerprint.py:55 —
# identical low-63-bit arithmetic: uint64 multiply wraps mod 2^64, the
# 63-bit mask then matches Python's arbitrary-precision `& _MASK63`)
_MULT_U64 = np.uint64(0x9E3779B97F4A7C15)
_MASK63_U64 = np.uint64((1 << 63) - 1)
_SKIP_U64 = np.uint64(FP_SKIPPED)
_TWO_U64 = np.uint64(2)

_PRIO = {p: i for i, p in enumerate(PROPERTY_PRIORITY)}


@lru_cache(maxsize=1 << 18)
def _pron_code(word: str) -> int:
    """Pronoun gender code of a token, or -1 (cached per unique word)."""
    return PRONOUN_GENDER.get(word.casefold(), -1)


_NUM_TOK_RE = None  # lazily compiled (avoid import-order cost)


@lru_cache(maxsize=1 << 18)
def _lit_word(word: str):
    """Literal classification of one token (cached per unique word):
    None for non-numeric words, else (value_str, is_year, is_y4, num).
    value_str is the PARSED number rendered (NumberAnnotator annotates
    the numeric value, not the surface); is_year is the reference's
    '4 digits in 1582..2038' rule (mentions.cc:570-585) that flips a
    number span to a date span; num is the parsed value for scale
    composition."""
    global _NUM_TOK_RE
    if _NUM_TOK_RE is None:
        import re

        _NUM_TOK_RE = re.compile(r"\d+(\.\d+)?\Z")
    if not _NUM_TOK_RE.match(word):
        return None
    from ..functions.numbers import is_year, parse_number_format

    v = parse_number_format(word)
    if v is None:
        return None
    return (str(v), is_year(word), len(word) == 4 and word.isdigit(), v)


@lru_cache(maxsize=1 << 18)
def _spelled_of(word: str):
    from ..functions.numbers import SPELLED

    return SPELLED.get(word.lower())


@lru_cache(maxsize=1 << 18)
def _scale_of(word: str):
    from ..functions.numbers import SCALES

    return SCALES.get(word.lower())


@lru_cache(maxsize=1 << 18)
def _unit_of(word: str) -> str | None:
    from ..sources.kb import UNITS

    return UNITS.get(word.lower())


@lru_cache(maxsize=1 << 18)
def _month_of(word: str) -> int | None:
    from ..functions.dates import month_of_word

    return month_of_word(word)


def _is_y4(word: str) -> bool:
    return len(word) == 4 and word.isdigit()


#: words skipped when matching abbreviation initials
#: (AbbreviationAnnotator::Init, reference mentions.cc:1102-1110)
ABBREV_SKIP = {"-", "&", "of", "for", "and", "the", "in",
               "ltd", "inc", "corp", "llc", "gmbh"}


def _scan_abbreviations(
    words: list[str],
    fps,
    forms,
    sb: int,
    se: int,
    phrase_table,
    abbrev_map: dict[str, int],
) -> list[tuple[int, int, int, int, str]]:
    """AbbreviationAnnotator (reference mentions.cc:1115-1200) for one
    sentence: find ``PHRASE ( ABBR )`` where ABBR is an all-caps token
    (>= 2 letters) whose letters match the phrase's initials leftward —
    skip-words skipped, embedded all-caps tokens matched as
    sub-abbreviations. A match records ``abbrev word -> phrase
    fingerprint`` in the DOCUMENT-level map, and (when the phrase
    resolves in the phrase table) adds chart candidates for the phrase
    span (it may exceed max_span) and every occurrence of the
    abbreviation token from this sentence on — so later ``ABBR``
    mentions resolve like the full phrase. Added candidates use
    CASE_NONE (no case penalty), sentence-relative coordinates.

    The per-token definition loop is kept UNCONDITIONAL by measurement:
    gating it behind a '(' pre-mask (vectorized or list.index) was
    A/B-tested and lost — the early `words[b+1] != "("` continue makes
    the plain loop ~57µs/doc total, cheaper than any per-sentence mask
    setup (BENCH/BASELINE.md §5, round 3)."""
    extra: list[tuple[int, int, int, int, str]] = []
    for b in range(sb, se - 3):
        if words[b + 1] != "(" or words[b + 3] != ")":
            continue
        ab = words[b + 2]
        if forms[b + 2] != 2:  # CASE_UPPER
            continue
        letters = [c for c in ab.upper() if c.isalpha()]
        if len(letters) < 2:
            continue
        l = len(letters) - 1
        i = b
        while l >= 0 and i >= sb:
            w = words[i]
            # initial match is tried BEFORE the skip-word check, exactly
            # like the reference (mentions.cc:1138-1150) — so a skip
            # word CAN consume a needed initial ("of" matching the 'O'
            # of OPEC stops the walk there and the phrase begins at
            # "of", not "Organization"); this greedy order is the
            # reference's own behavior, kept for parity
            if w and w[0].upper() == letters[l]:
                l -= 1
                i -= 1
                continue
            if w.lower() in ABBREV_SKIP:
                i -= 1
                continue
            if forms[i] == 2:  # embedded sub-abbreviation (US Air Force)
                sub = [c for c in w.upper() if c.isalpha()]
                start = l + 1 - len(sub)
                if start >= 0 and letters[start : l + 1] == sub:
                    l -= len(sub)
                    i -= 1
                    continue
            break
        if l >= 0:
            continue
        pb, pe = i + 1, b + 1
        pfp = 0
        for k in range(pb, pe):
            tfp = int(fps[k])
            if tfp == FP_SKIPPED:
                continue
            pfp = tfp if pfp == 0 else _py_cat(pfp, tfp)
        if pfp == 0:
            continue
        abbrev_map[ab] = pfp
        if pfp in phrase_table:
            extra.append((pb - sb, pe - sb, pfp, CASE_NONE, ""))
    if abbrev_map:
        for i in range(sb, se):
            pfp = abbrev_map.get(words[i])
            if pfp is not None and pfp in phrase_table:
                extra.append((i - sb, i - sb + 1, pfp, CASE_NONE, ""))
    return extra


def _py_cat(fp1: int, fp2: int) -> int:
    from ..functions.fingerprint import fingerprint_cat

    return fingerprint_cat(fp1, fp2)


def _literal_candidates(
    words: list[str], brks, lit0=None
) -> list[tuple[int, int, str]]:
    """Date / number / measure span candidates (the DateAnnotator /
    NumberAnnotator / MeasureAnnotator chart contributions, reference
    sling/nlp/silver/mentions.h:256-391), over one token array:

    - ISO date runs ``YYYY-MM[-DD]`` (adjacent tokens — BREAK_NONE means
      zero gap — month 1..12, day 1..31); only the maximal form per start
    - month-name dates (calendar.cc month resolution): ``May 14, 1984``
      and ``14 May 1984`` → YYYY-MM-DD, ``May 1984`` → YYYY-MM (maximal
      form per month-led start); case-insensitive full English month
      names (MONTHS in functions/dates.py)
    - decades ``1960s`` (year token + adjacent 's') → star form ``196*``
      and centuries ``19th century`` (ordinal + 'century') → ``18**``
      (Nth century → prefix N-1; calendar.h:82-84 star notation)
    - bare years (4 digits in 1582..2038 → date span, value = surface)
    - numbers: a numeric token annotated with its PARSED value
    - SPELLED numbers ('three' → 3) and SCALED numbers ('3 million',
      'two hundred' → composed value — the SpelledNumber/NumberScale
      annotators, mentions.h:283-316, over a fixed English inventory)
    - measures: number followed (same line: break ≤ SPACE) by a unit
      alias → ``<value>@<unit-id>``

    All spans compete in the DP cover like phrase spans; values are the
    fact-object literal forms, so distant supervision can target them
    (e.g. P6 release dates). Returns (begin, end, value) token spans.

    ``lit0`` (the tokenizer's per-word literal-start flags, a strict
    superset of acceptable span starts) restricts the scan to flagged
    tokens — the annotator only walks digit-led/month/spelled tokens
    instead of every token."""
    out: list[tuple[int, int, str]] = []
    n = len(words)
    starts = range(n) if lit0 is None else np.nonzero(lit0)[0].tolist()
    for i in starts:
        lit = _lit_word(words[i])
        if lit is None:
            # month-led date forms: MONTH DD , YYYY | MONTH YYYY
            mi = _month_of(words[i])
            if mi is not None and i + 1 < n and brks[i + 1] <= 1:
                if (
                    i + 3 < n
                    and words[i + 1].isdigit()
                    and len(words[i + 1]) <= 2
                    and 1 <= int(words[i + 1]) <= 31
                    and words[i + 2] == ","
                    and brks[i + 2] == 0
                    and brks[i + 3] <= 1
                    and _is_y4(words[i + 3])
                ):
                    out.append(
                        (i, i + 4,
                         f"{words[i + 3]}-{mi:02d}-{int(words[i + 1]):02d}")
                    )
                elif _is_y4(words[i + 1]):
                    out.append((i, i + 2, f"{words[i + 1]}-{mi:02d}"))
            sv = _spelled_of(words[i])
            if sv is None:
                continue
            # spelled number span; may compose with a following scale
            out.append((i, i + 1, str(sv)))
            if i + 1 < n and brks[i + 1] <= 1:
                sc = _scale_of(words[i + 1])
                if sc is not None:
                    from ..functions.numbers import scale_value

                    out.append((i, i + 2, scale_value(sv, sc)))
            continue
        value, year, y4, num = lit
        # ISO date run (maximal)
        if (
            y4
            and i + 2 < n
            and words[i + 1] == "-"
            and brks[i + 1] == 0
            and brks[i + 2] == 0
            and len(words[i + 2]) == 2
            and words[i + 2].isdigit()
            and 1 <= int(words[i + 2]) <= 12
        ):
            if (
                i + 4 < n
                and words[i + 3] == "-"
                and brks[i + 3] == 0
                and brks[i + 4] == 0
                and len(words[i + 4]) == 2
                and words[i + 4].isdigit()
                and 1 <= int(words[i + 4]) <= 31
            ):
                out.append((i, i + 5, f"{words[i]}-{words[i + 2]}-{words[i + 4]}"))
            else:
                out.append((i, i + 3, f"{words[i]}-{words[i + 2]}"))
        # DD MONTH YYYY (day-first month-name date)
        if (
            len(words[i]) <= 2
            and words[i].isdigit()
            and 1 <= int(words[i]) <= 31
            and i + 2 < n
            and brks[i + 1] <= 1
            and brks[i + 2] <= 1
            and _month_of(words[i + 1]) is not None
            and _is_y4(words[i + 2])
        ):
            out.append(
                (i, i + 3,
                 f"{words[i + 2]}-{_month_of(words[i + 1]):02d}-{int(words[i]):02d}")
            )
        # decade: 'YYY0' + adjacent 's' ("the 1960s") → star form
        if (
            y4
            and words[i][0] in "12"
            and words[i][3] == "0"
            and i + 1 < n
            and words[i + 1] == "s"
            and brks[i + 1] == 0
        ):
            out.append((i, i + 2, words[i][:3] + "*"))
        # century: 'N' + adjacent ordinal suffix + 'century' → star form
        if (
            len(words[i]) <= 2
            and words[i].isdigit()
            and 1 <= int(words[i]) <= 21
            and i + 2 < n
            and brks[i + 1] == 0
            and words[i + 1] in ("st", "nd", "rd", "th")
            and brks[i + 2] <= 1
            and words[i + 2].lower() == "century"
        ):
            out.append((i, i + 3, f"{int(words[i]) - 1}**"))
        # bare year (date) or plain number
        out.append((i, i + 1, words[i] if year else value))
        if i + 1 < n and brks[i + 1] <= 1:
            # measure: number + unit alias on the same line
            unit = _unit_of(words[i + 1])
            if unit is not None:
                out.append((i, i + 2, f"{value}@{unit}"))
            # scaled number: number + scale word ('3 million')
            sc = _scale_of(words[i + 1])
            if sc is not None:
                from ..functions.numbers import scale_value

                out.append((i, i + 2, scale_value(num, sc)))
    return out


class _NpAssets:
    """Executor-side derived lookup arrays: sorted key arrays for the
    vectorized membership/IDF probes plus the per-entity ordered-facts
    cache (pure function of the worker's assets, so safe to share
    across documents/batches within a Python worker)."""

    __slots__ = ("pt_keys", "idf_keys", "idf_vals", "ordered_facts")

    def __init__(self, assets: "KbAssets"):
        self.pt_keys = np.sort(
            np.fromiter(assets.phrase_table.keys(), dtype=np.uint64,
                        count=len(assets.phrase_table))
        )
        ik = np.fromiter(assets.idf.keys(), dtype=np.uint64, count=len(assets.idf))
        iv = np.fromiter(assets.idf.values(), dtype=np.float64, count=len(assets.idf))
        order = np.argsort(ik)
        self.idf_keys = ik[order]
        self.idf_vals = iv[order]
        self.ordered_facts: dict[str, list] = {}


def _np_assets(assets: "KbAssets") -> _NpAssets:
    npa = getattr(assets, "_npa", None)
    if npa is None:
        npa = _NpAssets(assets)
        assets._npa = npa  # plain (non-frozen) dataclass — cache on instance
    return npa


def _enumerate_candidates(
    fps: np.ndarray,  # uint64 token fingerprints (whole batch, docs concatenated)
    forms: np.ndarray,  # int8 case forms
    alpha: np.ndarray,  # bool has-letter
    lower: np.ndarray,  # bool word.islower()
    sent_start: np.ndarray,  # bool: token opens a sentence (or a document)
    npa: _NpAssets,
    min_idf: float,
    max_span: int,
):
    """Vectorized SpanPopulator + CommonWordPruner (mentions.cc:45-100,
    mentions.h:126) over the concatenated token arrays of a whole Arrow
    batch: for each span length l the fingerprint-cat fold, case-form
    fold, sentence guard, phrase-table membership (searchsorted on the
    sorted key array) and the single-lowercase-token IDF prune all run
    as array ops — no per-token Python. Returns (begin, end, fp, form)
    candidate arrays sorted by begin; semantics are bit-identical to the
    scalar loop (parity-tested in tests/test_kg_stages.py)."""
    n = fps.shape[0]
    empty = (np.zeros(0, np.int64), np.zeros(0, np.int64),
             np.zeros(0, np.uint64), np.zeros(0, np.int8))
    if n == 0 or npa.pt_keys.size == 0:
        return empty
    sent_id = np.cumsum(sent_start)
    valid_start = fps != _SKIP_U64

    # IDF prune mask (only consulted at l == 1): prune when the token HAS
    # an IDF entry and it is below threshold (mentions.py scalar rule)
    if npa.idf_keys.size:
        pos = np.minimum(np.searchsorted(npa.idf_keys, fps), npa.idf_keys.size - 1)
        idf_low = (npa.idf_keys[pos] == fps) & (npa.idf_vals[pos] < min_idf)
    else:
        idf_low = np.zeros(n, dtype=bool)

    # per-token initial form state: 0 = no alpha (no-op), -1 = alpha with
    # mixed/none case, f>0 = alpha with definite case form
    f0 = np.where(alpha, np.where(forms == CASE_NONE, np.int8(-1), forms),
                  np.int8(0)).astype(np.int8)

    outs: list[tuple] = []
    span_fp = fps  # entry b = fp of span [b, b+l) for the current l
    state = f0
    for l in range(1, max_span + 1):
        m = n - l + 1
        if m <= 0:
            break
        if l > 1:
            t = fps[l - 1:]
            prev = span_fp[:m]
            cat = ((prev * _MULT_U64) & _MASK63_U64) ^ t
            cat = np.where(cat == 0, _TWO_U64, cat)
            span_fp = np.where(t == _SKIP_U64, prev, cat)
            tf = f0[l - 1:]
            prev_s = state[:m]
            state = np.where(
                tf == 0, prev_s,
                np.where(prev_s == 0, tf,
                         np.where(prev_s == tf, prev_s, np.int8(-1))),
            )
        sf = span_fp if l > 1 else span_fp[:m]
        st = state if l > 1 else state[:m]
        pos = np.minimum(np.searchsorted(npa.pt_keys, sf), npa.pt_keys.size - 1)
        hit = (npa.pt_keys[pos] == sf) & valid_start[:m]
        if l == 1:
            hit &= ~(lower & idf_low)
        else:
            # span must END on a non-skipped token and stay in-sentence
            hit &= (fps[l - 1:] != _SKIP_U64) & (sent_id[l - 1:] == sent_id[:m])
        idx = np.nonzero(hit)[0]
        if idx.size:
            form = np.where(st[idx] > 0, st[idx], np.int8(CASE_NONE))
            outs.append((idx, idx + l, sf[idx], form))
    if not outs:
        return empty
    b = np.concatenate([o[0] for o in outs])
    e = np.concatenate([o[1] for o in outs])
    fp = np.concatenate([o[2] for o in outs])
    form = np.concatenate([o[3] for o in outs])
    order = np.argsort(b, kind="stable")
    return b[order], e[order], fp[order], form[order]


def _solve_cover(cands: list[tuple[int, int, int, int]], n: int):
    """SpanChart::Solve (chart.cc:52-98) as a COMPRESSED DP: dp grows
    linearly (skip cost per token) between candidate ends, so only
    candidate-end positions are evaluated — O(#candidates log) instead
    of O(sentence length). Tie-breaking replicates the dense loop:
    a span must be STRICTLY cheaper than skipping, candidates at one end
    are tried in ascending (begin, fp, form, literal) order, and
    backtracking from the sentence end takes the latest chosen end each
    time. ``cands``: (begin, end, fp, form, literal) sentence-relative
    (literal is "" for phrase spans, the value string for date/number/
    measure spans); returns chosen spans in left-to-right order."""
    if not cands:
        return []
    from bisect import bisect_right

    by_end: dict[int, list[tuple[int, int, int, str]]] = {}
    for b, e, fp, form, lit in cands:
        by_end.setdefault(e, []).append((b, fp, form, lit))

    pts_pos = [0]
    pts_val = [0.0]
    choice_at: dict[int, tuple[int, int, int]] = {}

    def dp_at(p: int) -> float:
        i = bisect_right(pts_pos, p) - 1
        return pts_val[i] + TOKEN_SKIP_COST * (p - pts_pos[i])

    for e in sorted(by_end):
        cost = dp_at(e - 1) + TOKEN_SKIP_COST
        choice = None
        for cand in sorted(by_end[e]):
            c = dp_at(cand[0]) + SPAN_COST
            if c < cost:
                cost, choice = c, cand
        pts_pos.append(e)
        pts_val.append(cost)
        if choice is not None:
            choice_at[e] = choice

    spans: list[tuple[int, int, int, int, str]] = []
    cur = n
    for e in sorted(choice_at, reverse=True):
        if e > cur:
            continue
        b, fp, form, lit = choice_at[e]
        spans.append((b, e, fp, form, lit))
        cur = b
    spans.reverse()
    return spans


def _merge_candidates(cb, ce, cfp, cform, lits):
    """Merge phrase candidates (arrays) with literal-span candidates
    (list of (b, e, value)) into begin-sorted arrays + an aligned
    literal-value list ('' on phrase spans)."""
    if not lits:
        return cb, ce, cfp, cform, [""] * len(cb)
    m = len(lits)
    lb = np.fromiter((t[0] for t in lits), np.int64, count=m)
    le = np.fromiter((t[1] for t in lits), np.int64, count=m)
    b = np.concatenate([cb, lb])
    e = np.concatenate([ce, le])
    fp = np.concatenate([cfp, np.zeros(m, np.uint64)])
    form = np.concatenate([cform, np.full(m, CASE_NONE, np.int8)])
    lit = [""] * len(cb) + [t[2] for t in lits]
    order = np.argsort(b, kind="stable")
    return b[order], e[order], fp[order], form[order], [lit[k] for k in order]


def annotate_document(
    words: list[str],
    brks: list[int],
    fps: list[int],
    forms: list[int],
    assets: KbAssets,
    min_idf: float = DEFAULT_MIN_IDF,
    max_span: int = DEFAULT_MAX_SPAN,
) -> tuple[list[dict], list[dict]]:
    """Annotator chain for one document over parallel token arrays.
    Returns (mentions, relations); span offsets are token indices."""
    from ..functions.tokenize import word_attrs

    n = len(words)
    fps_a = np.asarray(fps, dtype=np.uint64)
    forms_a = np.asarray(forms, dtype=np.int8)
    brks_a = np.asarray(brks, dtype=np.int8)
    if n:
        attrs = [word_attrs(w) for w in words]
        alpha = np.fromiter((a[2] for a in attrs), dtype=bool, count=n)
        lower = np.fromiter((a[3] for a in attrs), dtype=bool, count=n)
        lit0 = np.fromiter((a[4] for a in attrs), dtype=bool, count=n)
        pron = np.fromiter((a[5] for a in attrs), dtype=np.int8, count=n)
    else:
        alpha = lower = lit0 = np.zeros(0, dtype=bool)
        pron = np.zeros(0, dtype=np.int8)
    sent_start = brks_a >= 2
    if n:
        sent_start = sent_start.copy()
        sent_start[0] = True
    npa = _np_assets(assets)
    cb, ce, cfp, cform = _enumerate_candidates(
        fps_a, forms_a, alpha, lower, sent_start, npa, min_idf, max_span
    )
    merged = _merge_candidates(
        cb, ce, cfp, cform, _literal_candidates(words, brks_a, lit0)
    )
    return _annotate_from_candidates(
        words, brks_a, fps_a, forms_a, merged, assets, npa, pron
    )


def _annotate_from_candidates(
    words: list[str],
    brks: np.ndarray,
    fps: np.ndarray,
    forms: np.ndarray,
    cands: tuple,
    assets: KbAssets,
    npa: _NpAssets,
    pron: np.ndarray | None = None,
) -> tuple[list[dict], list[dict]]:
    """Stages 3-5 for ONE document given its pre-enumerated candidate
    spans (document-relative): DP cover per sentence, then the
    order-dependent resolver / anaphora / relation stages — sequential
    within the document by design (resolver context, SURVEY.md §4 risk
    #4), over candidate spans only (no per-token work).

    ``pron`` (the tokenizer's per-word pronoun gender codes, -1 for
    non-pronouns) restricts the anaphora stage to flagged positions —
    pronoun-free sentences skip stage 4b entirely; omitted, the stage
    probes every token."""
    phrase_table = assets.phrase_table
    popularity = assets.popularity
    links = assets.links
    statements = assets.statements
    prio = _PRIO
    ordered_facts = npa.ordered_facts

    cb, ce, cfp, cform, clit = cands
    context: dict[str, float] = {}
    mentioned: set[str] = set()
    mentions: list[dict] = []
    relations: list[dict] = []
    abbrev_map: dict[str, int] = {}  # abbreviation word -> phrase fp (per doc)

    bounds = _sentence_bounds(brks)
    # pronoun positions, document-level, consumed by a running pointer
    # (sentences iterate in begin order); None = probe every token
    pron_nz = np.nonzero(pron >= 0)[0].tolist() if pron is not None else None
    pron_ptr = 0
    if cb.size:
        # one vectorized pass assigns candidates to sentences (cands are
        # sorted by begin and never cross a sentence boundary); plain
        # Python lists from here on — no per-candidate NumPy indexing
        starts = np.fromiter((b for b, _ in bounds), dtype=np.int64,
                             count=len(bounds))
        cuts = np.searchsorted(cb, starts).tolist()
        cuts.append(cb.size)
        cb_l, ce_l = cb.tolist(), ce.tolist()
        cfp_l, cform_l = cfp.tolist(), cform.tolist()
    else:
        cuts = [0] * (len(bounds) + 1)


    for s_idx, (sb, se) in enumerate(bounds):
        n = se - sb
        lo, hi = cuts[s_idx], cuts[s_idx + 1]
        sent_cands = [
            (cb_l[k] - sb, ce_l[k] - sb, cfp_l[k], cform_l[k], clit[k])
            for k in range(lo, hi)
        ] if hi > lo else []
        # The definition scan runs unconditionally: A/B-measured against
        # both a vectorized '(' pre-mask (np object array + nonzero) and
        # a C-level list.index probe, the plain loop is FASTEST at this
        # corpus shape — its `words[b+1] != "("` early-continue costs
        # ~57µs/doc total (0.03% of annotation wall; BENCH/BASELINE.md
        # §5), while both pre-masks add per-doc/per-sentence setup that
        # exceeds the skipped work.
        sent_cands += _scan_abbreviations(
            words, fps, forms, sb, se, phrase_table, abbrev_map
        )
        spans = _solve_cover(sent_cands, n) if sent_cands else []

        # ---- 4: resolve, left to right --------------------------------
        sent_mentions: list[tuple[int, int, str]] = []  # (begin_abs, end_abs, entity)
        for b_rel, e_rel, fp, form, lit in spans:
            if lit:
                # literal span (date/number/measure): the value IS the
                # annotation — no resolver, no context update
                b_abs, e_abs = sb + b_rel, sb + e_rel
                sent_mentions.append((b_abs, e_abs, lit))
                mentions.append(
                    {
                        "sentence": s_idx,
                        "begin": b_abs,
                        "end": e_abs,
                        "phrase": " ".join(words[b_abs:e_abs]),
                        "fp": 0,
                        "entity": lit,
                        "score": 0.0,
                        "form": CASE_NONE,
                        "anaphora": False,
                    }
                )
                continue
            best = None
            best_key = None
            for entity, count, aform, _rel in phrase_table[fp]:
                score = (BASE_CONTEXT + context.get(entity, 0.0)) * count
                if form != CASE_NONE and aform != CASE_NONE and form != aform:
                    score *= CASE_PENALTY
                if entity in mentioned:
                    score *= LOCAL_BOOST
                key = (-score, -count, entity)
                if best_key is None or key < best_key:
                    best, best_key = (entity, score), key
            entity, score = best
            pop = popularity.get(entity) or 1
            context[entity] = context.get(entity, 0.0) + MENTION_WEIGHT / max(1, pop)
            for dst, cnt in links.get(entity, ()):
                dpop = max(1, popularity.get(dst) or 1)
                context[dst] = context.get(dst, 0.0) + cnt / dpop
            mentioned.add(entity)
            b_abs, e_abs = sb + b_rel, sb + e_rel
            sent_mentions.append((b_abs, e_abs, entity))
            mentions.append(
                {
                    "sentence": s_idx,
                    "begin": b_abs,
                    "end": e_abs,
                    "phrase": " ".join(words[b_abs:e_abs]),
                    "fp": fp,
                    "entity": entity,
                    "score": score,
                    "form": form,
                    "anaphora": False,
                }
            )

        # ---- 4b: anaphora (anaphora.cc:120-145 semantics) --------------
        # a pronoun token resolves to the EARLIEST gender-agreeing
        # NON-anaphor mention in the NEAREST sentence that has one (own
        # sentence included, only mentions before the pronoun), searching
        # back at most ANAPHORA_WINDOW sentences. Gender comes from the
        # entity's P21 fact (anaphora.cc:178-190); genderless entities are
        # UNKNOWN and agree with it/this. LITERAL mentions (dates,
        # numbers, measures) are legitimate antecedents — deliberately:
        # the reference takes ANY outer span as a markable
        # (anaphora.cc:100-103), and a literal span's frame resolves to
        # a non-frame handle, so IsFrame fails and its gender stays
        # UNKNOWN — exactly the agreement class 'it'/'this' matches.
        # Anaphors then act as relation SUBJECTS only (never as targets).
        anaphors: list[tuple[int, int, str]] = []
        if pron_nz is not None:
            # flagged pronoun positions inside this sentence only
            positions = []
            while pron_ptr < len(pron_nz) and pron_nz[pron_ptr] < se:
                if pron_nz[pron_ptr] >= sb:
                    positions.append(pron_nz[pron_ptr])
                pron_ptr += 1
        else:
            positions = range(sb, se)
        if positions:
            gender_of = assets.gender or {}
            covered = {i for b, e, _ent in sent_mentions for i in range(b, e)}
        for i in positions:
            pgender = _pron_code(words[i])
            if pgender < 0 or i in covered:
                continue
            antecedent = None
            prev_sent = s_idx
            for m in reversed(mentions):
                if m["anaphora"]:
                    continue
                if m["sentence"] == s_idx and m["begin"] >= i:
                    continue  # only markables before the pronoun
                if m["sentence"] != prev_sent:
                    if antecedent is not None:
                        break
                    if s_idx - m["sentence"] > ANAPHORA_WINDOW:
                        break
                    prev_sent = m["sentence"]
                if gender_of.get(m["entity"], G_UNKNOWN) == pgender:
                    antecedent = m
            if antecedent is None:
                continue
            anaphors.append((i, i + 1, antecedent["entity"]))
            mentions.append(
                {
                    "sentence": s_idx,
                    "begin": i,
                    "end": i + 1,
                    "phrase": words[i],
                    "fp": int(fps[i]),
                    "entity": antecedent["entity"],
                    "score": 0.0,
                    "form": int(forms[i]),
                    "anaphora": True,
                }
            )

        # ---- 5: relations (relations.cc greedy) ------------------------
        subjects = sorted(sent_mentions + anaphors)
        if subjects and sent_mentions:
            used: set[int] = set()
            for s_begin, s_end, s_entity in subjects:
                ordered = ordered_facts.get(s_entity)
                if ordered is None:
                    facts = statements.get(s_entity)
                    ordered = sorted(
                        {f for f in facts if f[0] not in BLOCKED_PROPERTIES},
                        key=lambda f: (prio.get(f[0], 99), f[0], f[1]),
                    ) if facts else []
                    ordered_facts[s_entity] = ordered
                if not ordered:
                    continue
                for pid, obj in ordered:
                    cands = [
                        ob
                        for ob, _oe, oent in sent_mentions  # targets: real mentions only
                        if oent == obj and ob != s_begin and ob not in used
                    ]
                    if not cands:
                        continue
                    o_begin = min(cands, key=lambda ob: (abs(ob - s_begin), ob))
                    used.add(o_begin)
                    relations.append(
                        {
                            "sentence": s_idx,
                            "subj": s_entity,
                            "pred": pid,
                            "obj": obj,
                            "begin": s_begin,
                            "end": s_end,
                        }
                    )
    return mentions, relations


def annotate(
    documents: DataFrame,
    assets_bc,
    min_idf: float = DEFAULT_MIN_IDF,
    max_span: int = DEFAULT_MAX_SPAN,
) -> DataFrame:
    """documents → unified annotation rows (kind = mention | relation).
    Narrow transformation — no shuffle; split with mentions_of/
    relations_of (one cached pass serves both)."""

    cols = ["kind", "repo", "path", "commit", "content_sha",
            "sentence", "begin", "end", "phrase", "fp",
            "entity", "score", "form", "anaphora", "pred", "obj"]

    def run(batches):
        from ..functions.tokenize import tokenize_arrays
        from .assets import load_assets

        # the broadcast carries only the AssetStore handle; the Parquet
        # tables load once per worker process
        assets = load_assets(assets_bc.value)
        npa = _np_assets(assets)
        for pdf in batches:
            data = {c: [] for c in cols}
            # ---- tokenize in-process (cheaper than shipping token
            # arrays through Arrow — deterministic, so the documents
            # table's n_tokens/fp_unique stay consistent), then
            # enumerate candidate spans for the WHOLE batch in one
            # NumPy pass (docs concatenated; each doc opens a sentence
            # so no span crosses a document boundary)
            docs = [tokenize_arrays(c) for c in pdf["content"]]
            if docs:
                offs = np.zeros(len(docs) + 1, dtype=np.int64)
                for j, ta in enumerate(docs):
                    offs[j + 1] = offs[j] + len(ta.words)
                fps_all = np.concatenate([ta.fps for ta in docs])
                sent_start = np.concatenate([ta.brks for ta in docs]) >= 2
                sent_start[offs[:-1][offs[:-1] < len(sent_start)]] = True
                cb, ce, cfp, cform = _enumerate_candidates(
                    fps_all,
                    np.concatenate([ta.forms for ta in docs]),
                    np.concatenate([ta.alpha for ta in docs]),
                    np.concatenate([ta.lower for ta in docs]),
                    sent_start,
                    npa,
                    min_idf,
                    max_span,
                )
            meta = list(zip(pdf["repo"], pdf["path"], pdf["commit"],
                            pdf["content_sha"]))
            if docs:
                doc_cuts = np.searchsorted(cb, offs).tolist()
            for j, ta in enumerate(docs):
                off = int(offs[j])
                lo, hi = doc_cuts[j], doc_cuts[j + 1]
                merged = _merge_candidates(
                    cb[lo:hi] - off, ce[lo:hi] - off, cfp[lo:hi], cform[lo:hi],
                    _literal_candidates(ta.words, ta.brks, ta.lit0),
                )
                ms, rs = _annotate_from_candidates(
                    ta.words,
                    ta.brks,
                    ta.fps,
                    ta.forms,
                    merged,
                    assets,
                    npa,
                    ta.pron,
                )
                row_repo, row_path, row_commit, row_sha = meta[j]
                n = len(ms) + len(rs)
                data["repo"].extend([row_repo] * n)
                data["path"].extend([row_path] * n)
                data["commit"].extend([row_commit] * n)
                data["content_sha"].extend([row_sha] * n)
                data["kind"].extend(["mention"] * len(ms) + ["relation"] * len(rs))
                for m in ms:
                    data["sentence"].append(m["sentence"])
                    data["begin"].append(m["begin"])
                    data["end"].append(m["end"])
                    data["phrase"].append(m["phrase"])
                    data["fp"].append(m["fp"])
                    data["entity"].append(m["entity"])
                    data["score"].append(m["score"])
                    data["form"].append(m["form"])
                    data["anaphora"].append(m["anaphora"])
                    data["pred"].append(None)
                    data["obj"].append(None)
                for r in rs:
                    data["sentence"].append(r["sentence"])
                    data["begin"].append(r["begin"])
                    data["end"].append(r["end"])
                    data["phrase"].append(None)
                    data["fp"].append(None)
                    data["entity"].append(r["subj"])
                    data["score"].append(None)
                    data["form"].append(None)
                    data["anaphora"].append(None)
                    data["pred"].append(r["pred"])
                    data["obj"].append(r["obj"])
            # fp/form carry None on relation rows; explicit nullable
            # integer dtypes prevent pandas' float64 coercion (which
            # silently destroys 63-bit fingerprint precision)
            data["fp"] = pd.array(data["fp"], dtype="Int64")
            data["form"] = pd.array(data["form"], dtype="Int32")
            yield pd.DataFrame(data, columns=cols)

    needed = ["repo", "path", "commit", "content_sha", "content"]
    return documents.select(*needed).mapInPandas(run, schema=ANNOTATIONS_SCHEMA)


def mentions_of(annotations: DataFrame) -> DataFrame:
    return annotations.filter(F.col("kind") == "mention").select(*MENTION_COLS)


def relations_of(annotations: DataFrame) -> DataFrame:
    return annotations.filter(F.col("kind") == "relation").select(
        "repo", "path", "commit", "content_sha", "sentence",
        F.col("entity").alias("subj"), "pred", "obj", "begin", "end",
    )


def detect_mentions(
    documents: DataFrame,
    assets_bc,
    min_idf: float = DEFAULT_MIN_IDF,
    max_span: int = DEFAULT_MAX_SPAN,
) -> DataFrame:
    """Mentions only (the standalone stage used by tests/queries)."""
    return mentions_of(annotate(documents, assets_bc, min_idf, max_span))


def annotate_text(text: str, assets: KbAssets) -> dict:
    """Per-record entry point (SURVEY.md §3.2 — the reference's
    ``parser.parse(text)`` / ``analyzer.annotate(doc)`` one-shot API,
    doc/guide/pyapi.md): tokenize one string and run the full annotator
    chain in-process, no Spark. Returns {tokens, mentions, relations,
    lex} — the same dict shapes the distributed path emits, so callers
    can switch between one document and 10^12 without code changes."""
    from ..functions.lex import to_lex
    from ..functions.tokenize import tokenize

    toks = tokenize(text)
    mentions, relations = annotate_document(
        [t.word for t in toks],
        [t.brk for t in toks],
        [t.fp for t in toks],
        [t.form for t in toks],
        assets,
    )
    lex = to_lex(
        [t.word for t in toks],
        [t.brk for t in toks],
        [(m["begin"], m["end"], m["entity"]) for m in mentions],
    )
    return {"tokens": toks, "mentions": mentions, "relations": relations, "lex": lex}
