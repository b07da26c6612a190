"""Equivalence tests for the round-6 fast paths in rules/udfs.

The spec patterns (MISSING_SPACE, EOL_ABBR, PUNC_ONLY, MIDWORD_PUNC,
LIKELY_URL) are the reference transcription and stay untouched; the fast
paths must be *provably* output-identical:

- MISSING_SPACE_FAST: fused single-alternative sub, byte-identical output,
  also as the one RE2 replace per Arrow batch the UDFs run.
- _eol_abbr_sub: windowed sub around newlines, byte-identical output.
- RE2 guard masks (udfs): necessary conditions only — a row the guard skips
  must be one where the guarded pattern cannot match (no false negatives;
  false positives merely run the original scan).
- is_jsonish: its first-character guard only skips texts json.loads rejects.
- _process_batch: end-to-end byte parity vs a straight transcription of the
  pre-round-6 per-row chain.
"""
from __future__ import annotations

import json
import random
import re
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from puddin_spark import rules
from puddin_spark.udfs import (
    _classify_guard_masks,
    _process_batch,
    _stage1_batch,
    _url_guard_mask,
)

FIXTURES = json.loads(
    (Path(__file__).parent / "fixtures" / "golden.json").read_text()
)


def _orig_ms(t: str) -> str:
    return rules.MISSING_SPACE.sub(r"\1\3 \2\4", t)


def _orig_eol(t: str) -> str:
    return rules.EOL_ABBR.sub(r"\1\2\5\6 \3\4", t)


def _reference_process(texts) -> pd.DataFrame:
    """The pre-optimization per-row chain, spec patterns only."""
    clean_out, excl_out = [], []
    for t in texts:
        if t is None:
            clean_out.append(None)
            excl_out.append("fail")
            continue
        mid = rules.transliterate(t)
        if "[url=" in mid:
            mid = rules.BRACKET_URL.sub(r"\1", mid)
        mid = rules.LIKELY_URL.sub(" ", mid)
        if mid != mid.lower():
            mid = _orig_ms(mid)
        label = rules.classify(mid)
        if label is not None:
            clean_out.append(None)
            excl_out.append(label)
            continue
        clean = rules.PUNC_ONLY.sub(r"\1\2\3\4\5\6\7\n\n", mid)
        if "\n" in clean:
            clean = _orig_eol(clean)
        if rules.is_jsonish(clean):
            clean_out.append(None)
            excl_out.append("fail")
        else:
            clean_out.append(clean)
            excl_out.append(None)
    return pd.DataFrame({"clean_text": clean_out, "excl_type": excl_out})


def test_missing_space_fast_fuzz():
    rng = random.Random(0)
    alph = "abcXY.!?,;: \n5_-\"'\tz"
    for _ in range(60_000):
        s = "".join(rng.choice(alph) for _ in range(rng.randint(0, 30)))
        assert _orig_ms(s) == rules.MISSING_SPACE_FAST.sub(r"\1 \2", s), repr(s)


def test_missing_space_arrow_replace_fuzz():
    """C4 as the batch UDFs run it, one RE2 replace over an Arrow array,
    equals the spec sub row by row: non-ASCII letters (which RE2 reads as
    UTF-8, sre as code points), NUL, empty rows and nulls included."""
    rng = random.Random(3)
    alph = "abcXY.!?,;: \n5_-\"'\tzéÄßİ\x00"
    mixed = [
        "".join(rng.choice(alph) for _ in range(rng.randint(0, 30)))
        for _ in range(60_000)
    ] + ["", None, "\x00", None]
    # a batch where every row matches
    every = ["aB", "x.,Y", "zzzQzzzQ", "éaÄbCß", "a!?Z\x00qW", "İiJ" + "kL" * 50]
    assert all(rules.MISSING_SPACE.search(s) for s in every)
    for rows in (mixed, every):
        got = pc.replace_substring_regex(
            pa.array(rows, type=pa.string()),
            rules.MISSING_SPACE_FAST.pattern,
            rules.MISSING_SPACE_REPL,
        ).to_pylist()
        assert got == [None if s is None else _orig_ms(s) for s in rows]
    # and the whole batch stage 1 equals the scalar spec chain
    url_rows = mixed[:5_000] + ["[url=http://x.y]LinkText[/url]aB", "see www.aB.c dD"]
    got = _stage1_batch(pd.Series(url_rows, dtype=object)).to_pylist()
    assert got == [None if s is None else rules.scrub_stage1(s) for s in url_rows]


def test_is_jsonish_guard_fuzz():
    """The first-character guard never changes is_jsonish's answer: every
    text it skips is one json.loads rejects."""
    def unguarded(t: str) -> bool:
        try:
            json.loads(t.strip("\"'"))
        except (json.JSONDecodeError, ValueError):
            return False
        return True

    rng = random.Random(4)
    toks = [
        "true", "false", "null", "NaN", "Infinity", "-Infinity", "-", "1",
        "0.5", "1e3", "{}", "[]", "[1, 2]", '{"a": 1}', '"x"', "'", '"',
        " ", "\t", "\n", "\r", "\x0b", "\x0c", "\xa0", "\ufeff", ",", ":",
        "{", "[", "]", "}", "word", "T", "F", "n", "é", "\x00", "+1", ".5",
    ]
    samples = [
        "".join(rng.choice(toks) for _ in range(rng.randint(0, 6)))
        for _ in range(60_000)
    ]
    for s in samples:
        assert rules.is_jsonish(s) == unguarded(s), repr(s)
    assert sum(map(rules.is_jsonish, samples)) > 1_000


def test_eol_abbr_fast_fuzz():
    rng = random.Random(1)
    toks = [
        "Mr", "Ms", "Mx", "Messrs", "Sen", "St", "Rev", "Prof", "Capt",
        "Hon", "i.e", "e.g", "ca", "c", "Jan", "Feb", "Sept", "Dec", "A",
        "B", "ABC", ".", "?", " ", "\n", "\n\n", "x", "yz", "3", "14", "!",
        "'", '"', ",", "es.", "s.", "Assemb", "Pharm",
    ]
    for _ in range(60_000):
        s = "".join(rng.choice(toks) for _ in range(rng.randint(0, 14)))
        assert _orig_eol(s) == rules._eol_abbr_sub(s), repr(s)
    alph = "AbC.\n ?!,eszgrMxJanSeptDc014'\"\t"
    for _ in range(60_000):
        s = "".join(rng.choice(alph) for _ in range(rng.randint(0, 40)))
        assert _orig_eol(s) == rules._eol_abbr_sub(s), repr(s)


def test_guard_masks_are_necessary_conditions():
    rng = random.Random(2)
    # alphabet exercising the PUNC_ONLY corner cases: runs, \n\n spans
    # (the [\W_] class contains '\n' itself), underscores, dots
    alph = "ab9.!?=*$ _\n\t-:;\"'%wx£é"
    samples = ["".join(rng.choice(alph) for _ in range(rng.randint(0, 25)))
               for _ in range(40_000)]
    punc_mask, midword_mask = _classify_guard_masks(samples)
    for s, punc_possible, midword_possible in zip(samples, punc_mask, midword_mask):
        if punc_possible is False:
            assert rules.PUNC_ONLY.search(s) is None, repr(s)
        if midword_possible is False:
            assert rules.MIDWORD_PUNC.search(s) is None, repr(s)
    url_alph = "ab3._ wx.y.z http:/w£\n"
    samples = ["".join(rng.choice(url_alph) for _ in range(rng.randint(0, 25)))
               for _ in range(40_000)]
    mask = _url_guard_mask(pd.Series(samples, dtype=object))
    for s, url_possible in zip(samples, mask):
        if url_possible is False:
            # guard runs on RAW text; must cover the post-translit/bbcode
            # string too (ASCII rows without '[url=' are fixed points)
            t = rules.transliterate(s)
            if "[url=" in t:
                t = rules.BRACKET_URL.sub(r"\1", t)
            assert rules.LIKELY_URL.search(t) is None, repr(s)


def test_process_batch_byte_parity_fixtures_and_synth():
    from puddin_spark.synth import gen_rows

    texts = list(gen_rows(0, 3000, giant_every=101)["text"])
    texts += [r["raw"] for r in FIXTURES]
    texts += [None, "", "héllo wörld £5.5.5 http x", "\n\n", "a;;;b",
              "[url=http://x]y[/url] z.z.z ", "ポールスミス…—bag"]
    s = pd.Series(texts, dtype=object)
    got = _process_batch(s)
    want = _reference_process(s)
    pd.testing.assert_frame_equal(got, want)


def test_scrub_stage2_guard_contract():
    # punc_possible=False must be the identity for the PUNC sub
    s = "plain text with no runs\nMr.\nHarwood"
    assert rules.scrub_stage2(s, punc_possible=False) == rules._eol_abbr_sub(s)
    # and matches the full path when the pattern indeed cannot match
    assert rules.scrub_stage2(s, punc_possible=False) == rules.scrub_stage2(s)


@pytest.mark.parametrize("chunk", ["!!!", "....." , "___", "\n\n", "~~~x"])
def test_punc_guard_fires_on_known_matches(chunk):
    text = f"word {chunk} word"
    punc_mask, _ = _classify_guard_masks([text])
    if rules.PUNC_ONLY.search(text) is not None:
        assert punc_mask[0] is not False
