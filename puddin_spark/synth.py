"""Deterministic synthetic Common-Crawl-style web-page table.

Schema = BASELINE.json `input_hint`:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Content mirrors FIXTURES.md section 1: the 61 reference demo documents
embedded verbatim (so end-to-end Spark runs are checkable against the golden
labels/bytes), plus strata that trip every filter rule, URL-laden prose,
exact duplicates under different urls, non-English rows for the langid gate,
and (optionally) giant documents for skew exercises.

Everything is a pure function of the row index — no RNG state, no wall
clock — so the same (n, seed) always yields byte-identical tables whether
generated driver-side (tests) or distributed via mapInPandas (bench).
"""
from __future__ import annotations

import datetime as dt
import hashlib
import json
from pathlib import Path

import pandas as pd

_FIXTURE_PATH = Path(__file__).resolve().parent.parent / "tests" / "fixtures" / "golden.json"

_WORDS = (
    "river stone meadow lantern harbor forest ember willow summit valley "
    "breeze copper orchard thistle falcon marble cinder harvest beacon drift"
).split()

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _h(ix: int, salt: str = "") -> int:
    return int.from_bytes(
        hashlib.sha256(f"{salt}:{ix}".encode()).digest()[:8], "big"
    )


def _prose(ix: int, n_sents: int = 6) -> str:
    """Clean English prose that survives every filter; includes a
    lowercaseUpper seam and a line-broken abbreviation to exercise C4/C6."""
    sents = []
    for s in range(n_sents):
        ws = [_WORDS[_h(ix, f"w{s}{k}") % len(_WORDS)] for k in range(7)]
        sents.append("The " + " ".join(ws) + " was seen near the old town.")
    body = " ".join(sents)
    return (
        f"{body}\nIt was late.Then the {_WORDS[_h(ix, 'x') % len(_WORDS)]} returned. "
        f"Mr.\nHarwood agreed to meet again soon."
    )


def _strata_text(ix: int) -> tuple[str, str]:
    """(text, stratum_name) for row ix. ~55% clean prose; the rest cycle
    through the filter-tripping classes of FIXTURES.md section 1."""
    r = _h(ix, "stratum") % 20
    if r < 11:
        # web-page-ish length spread (~0.5-2.5 KB)
        return _prose(ix, 8 + _h(ix, "len") % 24), "clean"
    if r == 11:
        return _prose(ix, 3) + " see  for details.", "undecodable"
    if r == 12:
        return _prose(ix, 2) + " <nowiki> template follows.", "wiki"
    if r == 13:
        return _prose(ix, 2) + ' <div class="note">inline markup</div> end.', "html"
    if r == 14:
        return _prose(ix, 2) + ' config {"outer":{"inner": 1}} tail.', "json"
    if r == 15:
        return _prose(ix, 2) + " check flag == true before running.", "code"
    if r == 16:
        return _prose(ix, 2) + " the config_value was wrong.", "snake"
    if r == 17:
        return _prose(ix, 2) + " download mp4converter today.", "a0wrd"
    if r == 18:
        return _prose(ix, 2) + " assault...Related articles below.", "puncmid"
    return (
        f"[url=http://example.com/{ix}]the anchor[/url] read more at "
        f"https://news.example.com/{ix} today.\n" + _prose(ix, 2),
        "urls",
    )


def gen_rows(
    start: int,
    end: int,
    *,
    include_fixtures: bool = True,
    dup_every: int = 17,
    nonen_every: int = 23,
    giant_every: int = 0,
    htmlonly_every: int = 0,
) -> pd.DataFrame:
    """Rows [start, end) of the synthetic table. Pure function of index."""
    fixtures: list[dict] = []
    if include_fixtures and _FIXTURE_PATH.exists():
        fixtures = json.loads(_FIXTURE_PATH.read_text())

    urls, tss, htmls, texts, langs = [], [], [], [], []
    for ix in range(start, end):
        ts = _EPOCH + dt.timedelta(seconds=ix * 37 % 31_536_000)
        if ix < len(fixtures):
            rec = fixtures[ix]
            url = f"https://fixtures.example.org/{rec['sample']}/{rec['text_id']}"
            text, lang, html = rec["raw"], "en", None
        else:
            jx = ix - len(fixtures)
            if nonen_every and jx % nonen_every == 5:
                text = f"Der alte Turm stand still am Fluss bei Nacht Nummer {jx}."
                lang = "de" if jx % 2 else "fr"
            elif dup_every and jx % dup_every == 3 and jx > dup_every:
                # exact duplicate text under a different url: all dup rows
                # sharing jx%7 carry identical text (dedup-determinism tests)
                text, _ = _strata_text(jx % 7)
                lang = "en"
            elif htmlonly_every and jx % htmlonly_every == 9:
                # WET text missing; only the raw html carries the content
                # (exercises operators.html.with_html_fallback)
                body = _prose(jx, 4).replace("\n", " ")
                urls.append(
                    f"https://synth.example.org/h/{_h(ix, 'url'):016x}"
                )
                tss.append(ts)
                htmls.append(
                    (
                        "<html><head><title>cached page</title></head>"
                        f"<body><!-- wet-missing --><p>{body}</p></body></html>"
                    ).encode()
                )
                texts.append("")
                langs.append("en")
                continue
            elif giant_every and jx % giant_every == 7:
                # ~150 KB outlier document (skew exercises)
                text = _prose(jx, 2500)
                lang = "en"
            else:
                text, _ = _strata_text(jx)
                lang = "en"
            url = f"https://synth.example.org/p/{_h(ix, 'url'):016x}"
            html = (
                f"<html><body>{text[:64]}</body></html>".encode()
                if ix % 3 == 0
                else None
            )
        urls.append(url)
        tss.append(ts)
        htmls.append(html)
        texts.append(text)
        langs.append(lang)
    return pd.DataFrame(
        {"url": urls, "warc_ts": tss, "html": htmls, "text": texts, "lang": langs}
    )


SPARK_SCHEMA_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def synth_pages(spark, n: int, *, parts: int | None = None, **kw):
    """Distributed generation: spark.range -> mapInPandas(gen_rows). The
    generator runs on executors; the driver never holds the table."""
    parts = parts or max(2, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield gen_rows(int(pdf["id"].min()), int(pdf["id"].max()) + 1, **kw)

    return (
        spark.range(0, n, 1, parts)
        .mapInPandas(gen, schema=SPARK_SCHEMA_DDL)
    )


def synth_pages_local(spark, n: int, **kw):
    """Driver-side generation for small test tables (exact row order)."""
    return spark.createDataFrame(gen_rows(0, n, **kw), schema=SPARK_SCHEMA_DDL)
