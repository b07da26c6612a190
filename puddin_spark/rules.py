"""Pure-Python scrub + keep/drop rules (no Spark imports).

These functions are the single source of truth for the pipeline's per-document
semantics. They are shared verbatim between plain pytest unit tests (byte
identity vs the reference demo fixtures) and the Arrow-vectorized pandas UDFs
in puddin_spark.udfs — that sharing is what makes byte-identity testable
(SURVEY.md section 4, item 2).

Semantics reproduce the reference exactly, including its quirks:

* Pattern strings are transcribed from the reference's compiled regexes
  (/root/reference/script/pile_regex_imports.py) — the patterns ARE the spec.
  Two malformed quantifiers ('{2:3}' at pile_regex_imports.py:23 and '{3:}'
  at :31) are literals under Python `re` and must stay that way; this is why
  the spec regexes run in Python `re` inside pandas UDFs, never in Spark's
  Java-regex `regexp_replace`/`rlike` (Java rejects them, and the inline
  '(?#...)' comments at :59-64 are not valid Java regex either). A pattern
  that RE2 provably runs byte-identically (MISSING_SPACE_FAST, below) may run
  as a pyarrow.compute RE2 kernel over a whole Arrow batch inside the UDF;
  this module keeps the `re` form as the spec the kernel is fuzzed against.
* Scrub order is clean_df's (parse_pile.py:894-974): transliterate (C1) →
  bbcode-url unwrap (C2) → url removal (C3) → missing-space repair (C4) →
  [exclusion battery runs HERE on the mid-state text] → punctuation-run
  paragraph breaks (C5) → line-break abbreviation repair (C6).
* The exclusion battery is first-match-wins in the order ?unk, wiki, html,
  json, code, _wrd, a0wrd, punc (pull_exclusions parse_pile.py:983-1081 +
  exclude_regex :1084-1107; dict order :1086-1092).
* Faithful quirk: the '?unk' stage checks `text.str.contains('<__?UNK__>')`
  with pandas' default regex=True (parse_pile.py:1009), and as a REGEX
  '<__?UNK__>' can never match the literal sentinel '<__?UNK__>' (the '?'
  makes the second '_' optional, but the literal has a '?' where the regex
  then requires 'U'). So '?unk' never fires on sentinel-bearing docs; they
  fall through and are caught by '_wrd' (the sentinel's '__' matches).
  We reproduce that by compiling the sentinel as a regex, same as pandas.
* 'fail' at parse time: a doc whose text (stripped of quote chars) parses as
  JSON is dropped with excl_type='fail' (parse_pile.py:1428-1438); so is a
  doc whose parse raises (:1443-1447).
"""
from __future__ import annotations

import json
import re

from puddin_spark.translit import UNK, transliterate

# --- pattern transcriptions (reference: pile_regex_imports.py, cited lines) ---

# :3
LIKELY_HTML = re.compile(r"<(\w*).*>[^<]*</\1>")
# :5-6
DEFWIKI = re.compile(r"<nowiki>")
WIKIPAT = re.compile(r"[{[]{2,}[^|}\]]+\|[^}\]]*\}{2,}")
# :21
BRACKET_URL = re.compile(r"\[url=[^\]]*]([^[]*)\[/url\]")
# :22-25 ('{2:3}' is a literal-brace quirk, keep verbatim)
LIKELY_URL = re.compile(
    r"https?://\S*\s|www\.\S*\s|[\w\d]+\.[\w\d]+\.[\w\d]+\S*\s|http://www\.\w+\.\w{2:3}"
)
# :29-31 ('{3:}' literal-brace quirk)
MIXED_LETTER_DIGIT = re.compile(
    r"\d*[a-z]+\d+[a-z]*\d*[a-z]*" r"|\d{3:}[a-z]+[a-z]*\d*[a-z]*", re.IGNORECASE
)
# :35
UNDERSCORE_WORD = re.compile(r"[\w]*?_[\w]+?")
# :36-37
MIDWORD_PUNC = re.compile(r"\b[a-z]+[^\w\s\-\'/\\&@]+?[a-zA-Z]+\b")
# :40-41
MISSING_SPACE = re.compile(
    r"(?# lowercaseUppercase with no \s)([a-z]+)([A-Z])"
    r"|(?# word-edge punc with no \s)([a-z][.!?,;:]+)([A-Z])"
)
# :43-45
CODE_LIKE = re.compile(
    r"(=|[=!><][=!><])\s?(self|true|false|\w+\.?\w*)", re.IGNORECASE
)
# :48
JSON_LIKE = re.compile(r'{"\w+":{"\w+":')
# :53-58
EOL_ABBR = re.compile(
    r"(?:(Mr|M[sx]|Messrs|Mmes|[SG]en|[FS]t|Re[vp]|Pr(?:es|of)|Supe?|Capt"
    r"|Asst|Ms?gr|Engr?|Assoc|Arb|Assemb|Pharm?|Hon|i\.e|e\.g|ca?"
    r"|(?<![A-Z])[A-Z](?![A-Z]))(e?s?\.[^\w\n]?)\n([^\n\w]?[A-Z]))"
    r"|(?<!\n)\n([^\n\w]?[A-Z]{2,})"
    r"|(Jan|Feb|Mar|Apr|Ju[nl]|Aug|Sept?|Nov|Oct|Dec)(\.?)\n(?=\d)"
)
# :59-64 (inline (?#...) comments are Python-re-only)
PUNC_ONLY = re.compile(
    r"(?# full line nonword chars only )^([\W_]+)$"
    r"|(?# any punc/non`\n`ws repeated 4+)(_|[^\w\n])(\2{4,})"
    r"|(?# punc/non`\n`ws except . repeated 4)([^a-z\d.\n])(\4{3})"
    r"|(?# punc/non`\n`ws except .!?$*= or blank repeated 3)([^a-z\d.!?$=* \n])(\6{2})",
    re.MULTILINE | re.IGNORECASE,
)
# :65-67
LINEBREAK_IS_SENT = re.compile(
    r"(?:(?#1--> )([^A-Z\n]{3,}[.?!;][\'\"?! \t\f\v\r]*|\.{4,})\n[ \t\f\v\r]*(?#2--> )([(#[\"\']?[A-Z]|\W*?\d+\W*?\w))"
    r"|(?:(?#3--> )(\D[.;:][\'\"?! \t\f\v\r]*)\n[ \t\f\v\r]*(?#4--> )([\(\#\[\"\']?[A-Z]|[\#\[\(]\d+[\)\]]))"
)
# :69-70
SOLONEW_OR_DUPWHITE = re.compile(r"(?<![\n])(\n)(?!\n)|([ \t\f\v\r])\2+")
EXTRA_NEWLINES = re.compile(r"\n{3,}")

# '?unk' stage: the sentinel compiled AS A REGEX (pandas str.contains default,
# parse_pile.py:1009) — deliberately never matches the literal sentinel.
UNK_AS_REGEX = re.compile(UNK)

# --- equivalence-tested fast twins of the two hottest scrub subs ---
#
# MISSING_SPACE's alt-1 `([a-z]+)([A-Z])` copies the whole lowercase run into
# the replacement unchanged, so matching just the LAST run char is output-
# equivalent: the fused single-alternative pattern below produces byte-
# identical sub results (proof sketch: at any position both alternatives are
# mutually exclusive on the char after the first [a-z] — uppercase -> alt 1,
# punctuation -> alt 2 — and shrinking alt 1's `[a-z]+` to `[a-z]` only moves
# the match start right by characters that are raw-copied either way; no new
# match can start inside a pure-lowercase prefix because the fused pattern
# needs punc-or-uppercase at position 2). Removing the `+` removes sre's
# O(run^2) consume-and-backtrack per lowercase run — profiled ~4x on prose.
# tests/test_rules_fast.py fuzzes the equivalence.
#
# The pattern is also RE2-exact, so the batch UDFs run it as one
# pyarrow.compute.replace_substring_regex per Arrow batch (udfs._stage1_batch):
# it uses only explicit ASCII classes (no \w, \s, \b, lookaround or
# backrefs), cannot match empty, and at most one match can start at any
# position (the greedy `*` runs over a set disjoint from [A-Z]), so RE2's
# leftmost-first global replace and sre's sub give the same bytes on any
# string, ASCII or not.
MISSING_SPACE_FAST = re.compile(r"([a-z][.!?,;:]*)([A-Z])")
MISSING_SPACE_REPL = r"\1 \2"

# Every EOL_ABBR alternative contains exactly one '\n', with at most
# _EOL_PRE chars of pattern before it (longest abbreviation 'Messrs'/'Assemb'
# = 6, + 'e?s?' 2 + '\.' 1 + '[^\w\n]?' 1 = 10; 12 leaves margin) and a tail
# that cannot cross another '\n' ('[A-Z]{2,}' / '[^\n\w]?' exclude it). So a
# global sub only ever matches in a bounded window around each newline, and
# the full-text scan (~200 us/doc on prose) collapses to a handful of
# anchored match attempts per newline (~5 us/doc). Left-to-right non-overlap
# semantics are preserved by resuming at each match end, exactly like
# Pattern.sub. tests/test_rules_fast.py fuzzes the equivalence.
_EOL_PRE = 12


def _eol_abbr_sub(t: str) -> str:
    r"""EOL_ABBR.sub(r"\1\2\5\6 \3\4", t), windowed around newlines (see
    above)."""
    pieces: list[str] = []
    last = 0
    search_from = 0
    nl = t.find("\n")
    n = len(t)
    while nl != -1:
        nxt = t.find("\n", nl + 1)
        endpos = nxt if nxt != -1 else n
        start = max(search_from, nl - _EOL_PRE)
        m = None
        while start <= nl:
            # match (not search): each attempt is anchored, so the engine
            # never scans past the newline's bounded prefix window
            m = EOL_ABBR.match(t, start, endpos)
            if m is not None:
                break
            start += 1
        if m is not None:
            # the template r"\1\2\5\6 \3\4" spelled out: Match.expand
            # re-parses it on every match; unmatched groups expand to ""
            g = m.groups("")
            pieces.append(t[last : m.start()])
            pieces.append(g[0] + g[1] + g[4] + g[5] + " " + g[2] + g[3])
            last = m.end()
            search_from = m.end()
        nl = nxt
    pieces.append(t[last:])
    return "".join(pieces)

# canonical label order (validate_data_group.py:338-339)
EXCL_TYPES = ["?unk", "wiki", "html", "json", "code", "_wrd", "a0wrd", "punc", "fail"]


# --- scrub chain ---

# Hot-path guards: each is a NECESSARY substring condition for its pattern
# (if the guard is false the regex cannot match / the sub is the identity),
# so skipping is semantics-free. memchr-speed `in` checks are 10-100x
# cheaper than a failed regex scan; profiled ~2x throughput on clean prose.
_DIGITS = "0123456789"


def _has_digit(t: str) -> bool:
    return any(d in t for d in _DIGITS)


def _has_upper(t: str) -> bool:
    # MISSING_SPACE's both alternatives require an [A-Z] char
    return t != t.lower()


def scrub_urls(text: str, *, url_possible: bool = True) -> str:
    """C1-C3: transliterate, unwrap bbcode urls, strip urls (clean_df,
    parse_pile.py:910-930) — scrub_stage1 up to the missing-space repair.

    url_possible=False asserts a caller-side guarantee that LIKELY_URL cannot
    match (the batch UDFs precompute that with one vectorized RE2 pass over a
    necessary-condition pattern — udfs._url_guard_mask); the sub is then the
    identity and is skipped. Default True preserves standalone semantics."""
    t = transliterate(text)
    if "[url=" in t:  # BRACKET_URL needs the literal '[url='
        t = BRACKET_URL.sub(r"\1", t)
    if url_possible:
        t = LIKELY_URL.sub(" ", t)
    return t


def scrub_stage1(text: str) -> str:
    """C1-C4: scrub_urls, then repair missing spaces (clean_df,
    parse_pile.py:910-934). Output = the mid-state text the exclusion
    battery sees. The batch UDFs run C4 as one RE2 pass per Arrow batch
    instead (udfs._stage1_batch); this scalar form is the spec."""
    t = scrub_urls(text)
    if _has_upper(t):
        t = MISSING_SPACE_FAST.sub(MISSING_SPACE_REPL, t)
    return t


def scrub_stage2(mid: str, *, punc_possible: bool = True) -> str:
    """C5-C6: punctuation-run paragraph breaks + line-break abbreviation
    repair (clean_df, parse_pile.py:956-961). Applied to KEPT docs only.

    punc_possible=False asserts PUNC_ONLY cannot match (vectorized batch
    guard, udfs._classify_guard_masks); the sub is then the identity."""
    t = PUNC_ONLY.sub(r"\1\2\3\4\5\6\7\n\n", mid) if punc_possible else mid
    if "\n" in t:  # every EOL_ABBR alternative contains \n
        t = _eol_abbr_sub(t)
    return t


def scrub(raw: str) -> str:
    """Full scrub chain for a kept document (byte-identical to the
    reference's final-df `text`)."""
    return scrub_stage2(scrub_stage1(raw))


def remove_breaks(textstr: str) -> str:
    """C7, applied at segmentation time (parse_pile.py:1535-1540): single
    newlines and duplicated whitespace -> ' ', then 3+ newlines -> 2."""
    cleantext = SOLONEW_OR_DUPWHITE.sub(r" ", textstr.strip())
    return EXTRA_NEWLINES.sub("\n\n", cleantext)


# --- keep/drop battery ---

def classify(mid: str, *, midword_possible: bool = True) -> str | None:
    """First-match-wins exclusion label on the mid-state (post-C4) text, or
    None to keep. Order per pull_exclusions (parse_pile.py:1009,1021,1031,
    1084-1107). Substring guards are necessary conditions (see above):
    ?unk needs 'UNK__>', wikipat '|', html '<'/'>', json '{\"', code one of
    '=<>!', _wrd '_', a0wrd a digit (both alternatives contain \\d).

    midword_possible=False asserts MIDWORD_PUNC cannot match (vectorized
    batch guard over the exact pattern, udfs._classify_guard_masks) — the
    one battery stage with no cheap substring guard, and on post-C4 prose
    (spaces repaired) the scan that almost never matches."""
    if "UNK__>" in mid and UNK_AS_REGEX.search(mid):
        return "?unk"
    if DEFWIKI.search(mid) or ("|" in mid and WIKIPAT.search(mid)):
        return "wiki"
    if "<" in mid and ">" in mid and LIKELY_HTML.search(mid):
        return "html"
    if '{"' in mid and JSON_LIKE.search(mid):
        return "json"
    if (
        ("=" in mid or "<" in mid or ">" in mid or "!" in mid)
        and CODE_LIKE.search(mid)
    ):
        return "code"
    if "_" in mid and UNDERSCORE_WORD.search(mid):
        return "_wrd"
    if _has_digit(mid) and MIXED_LETTER_DIGIT.search(mid):
        return "a0wrd"
    if midword_possible and MIDWORD_PUNC.search(mid):
        return "punc"
    return None


# json.loads skips leading [ \t\n\r] and then needs a value's first char:
# an object, array, string, number, true/false/null, NaN or (-)Infinity. A
# text failing this cannot parse (a leading BOM already fails), so the
# match skips the parse attempt on prose.
_JSON_HEAD = re.compile(r'[ \t\n\r]*[{\["\-0-9tfnNI]')


def is_jsonish(textstr: str) -> bool:
    """Parse-time 'fail' gate (parse_pile.py:1428-1438): text that parses as
    JSON after stripping surrounding quote chars is dropped."""
    textstr = textstr.strip("\"'")
    if not _JSON_HEAD.match(textstr):
        return False
    try:
        json.loads(textstr)
    except (json.JSONDecodeError, ValueError):
        return False
    return True


# --- sentence segmentation (lightweight stand-in for the reference's Stanza
# tokenizer; the linebreak re-split mirrors _confirm_parse/try_redoc,
# parse_pile.py:1474-1624) ---

_SENT_END = re.compile(r"(?<=[.?!])[\"')\]]*\s+(?=[\"'(\[]?[A-Z0-9])")


def segment_sentences(clean_text: str) -> list[str]:
    """Split a scrubbed document into sentence strings.

    1. Paragraph-level split on blank lines.
    2. Within a paragraph, split where LINEBREAK_IS_SENT says a line break is
       a sentence boundary (reference pile_regex_imports.py:65-67).
    3. Then split on terminal punctuation followed by a capital/digit.
    4. Each sentence is remove_breaks()-normalized, mirroring the '# text ='
       comments (parse_pile.py:1509-1512).
    """
    sents: list[str] = []
    stripped = clean_text.strip()
    paras = re.split(r"\n{2,}", stripped) if "\n" in stripped else [stripped]
    for para in paras:
        if not para.strip():
            continue
        out_pieces: list[str] = []
        if "\n" in para:  # every LINEBREAK_IS_SENT alternative contains \n
            last = 0
            for m in LINEBREAK_IS_SENT.finditer(para):
                cut = para.index("\n", m.start(), m.end()) if "\n" in m.group(0) else m.end()
                out_pieces.append(para[last:cut])
                last = cut + 1
            out_pieces.append(para[last:])
        else:
            out_pieces.append(para)
        for chunk in out_pieces:
            chunk = remove_breaks(chunk)
            if not chunk:
                continue
            sents.extend(s for s in _SENT_END.split(chunk) if s.strip())
    return sents


# --- PII / toxicity scrub (graft axis; north_rule "regex PII/toxicity-scrub
# pipeline"). Composed AFTER the reference-parity scrub (udfs.pii_scrub_udf
# over clean_text; quality_pipeline never applies it) so byte-identity on
# reference fixtures is preserved (SURVEY.md section 7.1 step 4). Patterns are RE2-safe (no backrefs/lookaround) so the DuckDB
# oracle can reproduce them exactly. ---

PII_RULES: list[tuple[str, re.Pattern]] = [
    ("[EMAIL]", re.compile(r"[\w.+-]+@[\w-]+\.[\w.-]+")),
    ("[SSN]", re.compile(r"\b\d{3}-\d{2}-\d{4}\b")),
    ("[CC]", re.compile(r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b")),
    ("[PHONE]", re.compile(r"\b(?:\+?1[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b")),
    ("[IP]", re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")),
]

TOXICITY_WORDS = ("damn", "hell", "crap")  # placeholder list; swap per policy
TOXICITY_RULE = ("[TOX]", re.compile(r"(?i)\b(" + "|".join(TOXICITY_WORDS) + r")\b"))


def scrub_pii(text: str, mask_toxicity: bool = True) -> str:
    """Mask PII spans (email, SSN, credit card, phone, IPv4) and optionally
    the toxicity wordlist. Order matters: CC before PHONE so 16-digit runs
    are not half-eaten by the phone pattern."""
    for token, pat in PII_RULES:
        text = pat.sub(token, text)
    if mask_toxicity:
        token, pat = TOXICITY_RULE
        text = pat.sub(token, text)
    return text


# --- tokenization (CoNLL-U token lines; whitespace + punctuation splitter,
# the pre-annotation FORM column — UPOS/HEAD/DEPREL stay '_' for the
# downstream UD annotator per north_star scope) ---

TOKEN_PATTERN = re.compile(r"\w+|[^\w\s]")


def tokenize(sentence: str) -> list[str]:
    """UD-ish surface tokens: word runs and single punctuation marks."""
    return TOKEN_PATTERN.findall(sentence)
