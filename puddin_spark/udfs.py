"""Arrow-vectorized pandas UDFs wrapping the pure rules.

All regex semantics live in puddin_spark.rules (Python `re` — required for
byte-parity with the reference, see rules.py docstring). These UDFs are thin
vectorization shells: Arrow batch in, Arrow batch out, per-row Python only
inside the batch (the `input_hint`'s "no per-row Python" at the Spark API
level). The combined `process` UDF does the whole scrub+classify chain in ONE
Python round trip per batch instead of four, which matters because each
pandas UDF column pass re-ships the document text through Arrow.

Vectorized guard prefilters (optimization guide section 4.2 — hand whole
batches to vectorized native code): the three scrub/battery patterns with no
cheap per-row substring guard (LIKELY_URL, PUNC_ONLY, MIDWORD_PUNC) each get
ONE pyarrow.compute RE2 pass per batch over a *necessary-condition* pattern;
rows the RE2 DFA proves can't match skip the Python `re` scan entirely. RE2's
ASCII \\w/\\s/\\W only under-approximates Python's on non-ASCII text, so
non-ASCII (and null) rows are forced through the full Python path — guards
are strictly conservative. The guard patterns and the skip contract are
fuzz-tested against the spec patterns in tests/test_rules_fast.py.

The missing-space repair (C4) is not guarded but replaced: nearly every
document has a match, so the batch stage 1 (_stage1_batch) runs C1-C3 per
row and then C4 as ONE pyarrow.compute.replace_substring_regex pass over the
batch's Arrow array (RE2 is byte-exact for that pattern, see
rules.MISSING_SPACE_FAST). The same array feeds the PUNC_ONLY/MIDWORD_PUNC
guard pass.
"""
from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T

from puddin_spark import rules

PROCESS_SCHEMA = T.StructType(
    [
        T.StructField("clean_text", T.StringType()),
        T.StructField("excl_type", T.StringType()),
    ]
)

# LIKELY_URL necessary condition: alt 1/4 need 'http', alt 2 'www.', alt 3 a
# word.word.word core ('\\S*\\s' tails dropped — superset). Evaluated on the
# RAW text, so rows where transliteration or bbcode unwrapping could *create*
# a match (non-ASCII rows; rows containing '[url=') are forced through.
_URL_GUARD_RE2 = r"https?|www\.|\w\.\w+\.\w"

# PUNC_ONLY necessary condition: its alternatives need either a full
# ^[\W_]+$ span (kept verbatim — RE2-safe) or >=3 consecutive copies of one
# non-alnum char (alt b needs 5, alt c 4, alt d 3; '.' only qualifies via
# alt b, hence the 5-dot arm). RE2 has no backreferences, so the same-char
# runs are enumerated per ASCII char into one DFA-compiled alternation —
# including NUL (escaped as \x00: chr(0) is a valid PUNC_ONLY run char, and
# an enumeration starting at 1 silently skipped it — caught in review).
_PUNC3_CHARS = [
    chr(c) for c in range(0, 128) if not chr(c).isalnum() and chr(c) not in "\n."
]
_PUNC_GUARD_RE2 = (
    "(?m:^[\\W_]+$)|"
    + "|".join(
        ("\\x%02x" % ord(c) if ord(c) < 0x20 else re.escape(c)) + "{3}"
        for c in _PUNC3_CHARS
    )
    + r"|\.{5}"
)

# MIDWORD_PUNC is RE2-expressible as-is (no backrefs/lookarounds); for ASCII
# rows the RE2 match set is a superset of Python's (RE2's \s lacks \x0b, so
# its negated class only grows) — a valid necessary condition.
_MIDWORD_GUARD_RE2 = r"\b[a-z]+[^\w\s\-'/\\&@]+?[a-zA-Z]+\b"


def _url_guard_mask(texts: pd.Series) -> list:
    """Per-row: may LIKELY_URL match after transliterate+bbcode-unwrap?
    True/None = run the sub; False = provably the identity, skip it."""
    arr = pa.Array.from_pandas(texts, type=pa.string())
    force = pc.or_kleene(pc.is_null(arr), pc.invert(pc.string_is_ascii(arr)))
    force = pc.or_kleene(force, pc.match_substring(arr, "[url="))
    return pc.or_kleene(pc.match_substring_regex(arr, _URL_GUARD_RE2), force).to_pylist()


def _stage1_batch(texts: pd.Series) -> pa.Array:
    """rules.scrub_stage1 over a batch, as an Arrow string array: C1-C3 per
    row (rules.scrub_urls, the URL guard deciding per row whether the
    LIKELY_URL scan can be skipped), then C4 as one RE2 replace over the
    whole batch. Nulls stay null."""
    pre = [
        None if t is None else rules.scrub_urls(t, url_possible=url_possible is not False)
        for t, url_possible in zip(texts, _url_guard_mask(texts))
    ]
    return pc.replace_substring_regex(
        pa.array(pre, type=pa.string()),
        rules.MISSING_SPACE_FAST.pattern,
        rules.MISSING_SPACE_REPL,
    )


def _classify_guard_masks(
    mids: list | pa.Array, with_punc: bool = True
) -> tuple[list, list]:
    """(punc_possible, midword_possible) per row, evaluated on the exact
    mid-state strings the spec patterns run against (no staging gap).
    `mids` is a list or an Arrow string array (used as is, no copy).
    with_punc=False skips the PUNC_ONLY DFA pass (and returns an all-True
    punc mask) for callers that only classify and never run scrub_stage2."""
    arr = pa.array(mids, type=pa.string())
    force = pc.or_kleene(pc.is_null(arr), pc.invert(pc.string_is_ascii(arr)))
    if with_punc:
        punc = pc.or_kleene(
            pc.match_substring_regex(arr, _PUNC_GUARD_RE2), force
        ).to_pylist()
    else:
        punc = [True] * len(mids)
    mid = pc.or_kleene(pc.match_substring_regex(arr, _MIDWORD_GUARD_RE2), force)
    return punc, mid.to_pylist()


def _process_batch(texts: pd.Series) -> pd.DataFrame:
    """raw text -> (clean_text | null, excl_type | null) per document.

    Chain (reference order, parse_pile.py:894-974 + 1428-1438):
      scrub_stage1 (C1-C4) -> classify (F1-F8, first match wins) ->
      scrub_stage2 (C5-C6, kept docs only) -> jsonish 'fail' gate.
    Dropped docs get clean_text=null; kept docs get excl_type=null.

    Two passes: pass 1 builds the mid-state texts as one Arrow array
    (_stage1_batch); pass 2 classifies and finishes kept docs, with the
    PUNC_ONLY and MIDWORD_PUNC guards computed in one RE2 sweep over that
    array.
    """
    mids = _stage1_batch(texts)
    punc_mask, midword_mask = _classify_guard_masks(mids)
    clean_out: list[str | None] = []
    excl_out: list[str | None] = []
    for mid, punc_possible, midword_possible in zip(
        mids.to_pylist(), punc_mask, midword_mask
    ):
        if mid is None:
            clean_out.append(None)
            excl_out.append("fail")
            continue
        label = rules.classify(mid, midword_possible=midword_possible is not False)
        if label is not None:
            clean_out.append(None)
            excl_out.append(label)
            continue
        clean = rules.scrub_stage2(mid, punc_possible=punc_possible is not False)
        if rules.is_jsonish(clean):
            clean_out.append(None)
            excl_out.append("fail")
        else:
            clean_out.append(clean)
            excl_out.append(None)
    return pd.DataFrame({"clean_text": clean_out, "excl_type": excl_out})


process_udf = F.pandas_udf(_process_batch, PROCESS_SCHEMA)


def _scrub_stage1_batch(texts: pd.Series) -> pd.Series:
    return pd.Series(_stage1_batch(texts).to_pylist(), index=texts.index, dtype=object)


scrub_stage1_udf = F.pandas_udf(_scrub_stage1_batch, T.StringType())


def _classify_batch(mids: pd.Series) -> pd.Series:
    _, midword_mask = _classify_guard_masks(list(mids), with_punc=False)
    return pd.Series(
        [
            "fail"
            if t is None
            else rules.classify(t, midword_possible=midword_possible is not False)
            for t, midword_possible in zip(mids, midword_mask)
        ],
        index=mids.index,
        dtype=object,
    )


classify_udf = F.pandas_udf(_classify_batch, T.StringType())


@F.pandas_udf(T.ArrayType(T.StringType()))
def segment_udf(clean_texts: pd.Series) -> pd.Series:
    """clean document -> array of sentence strings (reference analog:
    Stanza tokenize + the linebreak re-split, parse_pile.py:1474-1624)."""
    return clean_texts.map(
        lambda t: rules.segment_sentences(t) if t is not None else []
    )


@F.pandas_udf(T.StringType())
def pii_scrub_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: rules.scrub_pii(t) if t is not None else None)


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(sents: pd.Series) -> pd.Series:
    return sents.map(lambda s: rules.tokenize(s) if s is not None else [])


@F.pandas_udf(T.DoubleType())
def batch_ts_udf(texts: pd.Series) -> pd.Series:
    """Wall-clock stamp (epoch seconds) per Arrow batch. Projected alongside
    process_udf it rides the SAME ArrowEvalPython pass (projection collapse),
    so min/max per lineage partition bound when that partition's documents
    were actually processed — the rebuild of the reference slice-info's
    started_at/finished_at/parsing_time columns (parse_pile.py:1185-1188,
    1319-1338) without any extra stage or Python round trip."""
    import time

    t = float(time.time())
    return pd.Series(t, index=texts.index)
