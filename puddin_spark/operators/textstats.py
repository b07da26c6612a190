"""Text analysis operators: language-ID heuristic, quality scoring, token
counting, document fingerprinting.

Everything here is built-in-expression only (JVM codegen, no Python), and
each has an exact SQL twin for the DuckDB oracle. These are the graft-axis
scoring columns the north_star adds on top of the reference's battery; at
run time they ride the same scan as the scrub UDF.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puddin_spark.pipeline import flip_verdicts

# small English function-word profile for the n-gram/stopword heuristic
EN_STOPWORDS = (
    "the of and to in a is that it was for on are as with his they at be this "
    "have from or had by word but not what all were we when your can said there "
    "use an each which she do how their if"
).split()

_SW_ARRAY = "array(" + ",".join(f"'{w}'" for w in EN_STOPWORDS) + ")"


def tokens_expr(text_col: str) -> str:
    return f"split(trim(lower({text_col})), '\\\\s+')"


def token_count_col(text_col: str):
    """Whitespace token count."""
    return F.expr(f"size({tokens_expr(text_col)})")


def word_token_count_col(text_col: str):
    """BPE-ish word-piece count: runs of letters/digits or single punct."""
    return F.expr(f"size(regexp_extract_all(lower({text_col}), '[a-z0-9]+|[^a-z0-9\\\\s]', 0))")


def stopword_ratio_col(text_col: str):
    toks = tokens_expr(text_col)
    return F.expr(
        f"cast(size(filter({toks}, w -> array_contains({_SW_ARRAY}, w))) as double)"
        f" / greatest(size({toks}), 1)"
    )


def punct_ratio_col(text_col: str):
    return F.expr(
        f"cast(size(regexp_extract_all({text_col}, '[^0-9A-Za-z\\\\s]', 0)) as double)"
        f" / greatest(length({text_col}), 1)"
    )


def mean_word_len_col(text_col: str):
    toks = tokens_expr(text_col)
    return F.expr(
        f"cast(aggregate({toks}, 0, (acc, w) -> acc + length(w)) as double)"
        f" / greatest(size({toks}), 1)"
    )


def langid_en_score_col(text_col: str):
    """Heuristic English likelihood = stopword hit ratio (n-gram profile
    stand-in for fastText, which is unavailable here; the UDF seam in
    models.py upgrades this when a real model is present)."""
    return stopword_ratio_col(text_col)


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard quality-signal columns. One scan, all codegen."""
    return (
        df.withColumn("n_tokens", token_count_col(text_col))
        .withColumn("n_word_pieces", word_token_count_col(text_col))
        .withColumn("stopword_ratio", F.round(stopword_ratio_col(text_col), 6))
        .withColumn("punct_ratio", F.round(punct_ratio_col(text_col), 6))
        .withColumn("mean_word_len", F.round(mean_word_len_col(text_col), 6))
        .withColumn(
            "quality_score",
            F.round(
                F.least(F.col("stopword_ratio") * 2, F.lit(1.0)) * 0.5
                + (1 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.3
                + F.when(
                    (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10), 0.2
                ).otherwise(0.0),
                6,
            ),
        )
    )


def fingerprint_col(text_col: str):
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    lowercased text (rolling-hash analog, portable across engines)."""
    return F.md5(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "))


def apply_quality_gate(
    verdicts: DataFrame, min_score: float, text_col: str = "clean_text"
) -> DataFrame:
    """Model-tier quality filter composing AFTER the rule battery: kept
    docs scoring under `min_score` flip to keep=false with
    excl_type='low_quality' (clean_text nulled per the verdict contract);
    already-dropped docs pass through untouched. Pure codegen projection —
    no shuffle, no Python — so it rides the same stage as the sink write.
    """
    score = (
        F.least(F.round(stopword_ratio_col(text_col), 6) * 2, F.lit(1.0)) * 0.5
        + (1 - F.least(F.round(punct_ratio_col(text_col), 6) * 4, F.lit(1.0))) * 0.3
        + F.when(
            (F.round(mean_word_len_col(text_col), 6) >= 3)
            & (F.round(mean_word_len_col(text_col), 6) <= 10),
            0.2,
        ).otherwise(0.0)
    )
    return flip_verdicts(
        verdicts, F.round(score, 6) < min_score, "low_quality", text_col
    )


def toxicity_pattern() -> str:
    """Word-boundary alternation over rules.TOXICITY_WORDS with every word
    re.escape'd — the lexicon is documented as swap-per-policy, so a word
    carrying a regex metacharacter must match literally rather than break
    (or reinterpret) the pattern. Shared by the scorer and the gate; pass
    it to regexp_extract_all via the COLUMN form (F.lit), never splice it
    into an F.expr string literal, so no quoting/injection surface exists."""
    import re as _re

    from puddin_spark.rules import TOXICITY_WORDS

    return r"\b(" + "|".join(_re.escape(w) for w in TOXICITY_WORDS) + r")\b"


def _toxicity_hits_col(text_col: str):
    """size(regexp_extract_all(lower(text), <escaped lexicon>)) — column
    form keeps the pattern out of SQL-literal space (ADVICE r4: a quote in
    a swapped lexicon was expression injection under the old F.expr path)."""
    return F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(toxicity_pattern()), F.lit(0))
    )


def toxicity_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach per-document toxicity signals: `tox_hits` (count of
    wordlist matches, rules.TOXICITY_WORDS — the same frozen lexicon the
    [TOX] masker uses) and `tox_ratio` (hits / whitespace tokens). Pure
    codegen (regexp_extract_all + size), mechanical DuckDB twin; the
    SCORING side of the north rule's toxicity-scrub axis — score to gate
    documents, mask (rules.scrub_pii) to clean the survivors."""
    hits = _toxicity_hits_col(text_col)
    return df.withColumn("tox_hits", hits).withColumn(
        "tox_ratio",
        F.round(
            F.col("tox_hits")
            / F.greatest(token_count_col(text_col), F.lit(1)),
            6,
        ),
    )


def apply_toxicity_gate(
    verdicts: DataFrame, max_ratio: float, text_col: str = "clean_text"
) -> DataFrame:
    """Toxicity filter composing AFTER the rule battery (mirror of
    apply_quality_gate): kept docs whose toxic-token ratio exceeds
    `max_ratio` flip to keep=false with excl_type='toxic' (clean_text
    nulled per the verdict contract). Pure codegen projection — no
    shuffle, no Python."""
    hits = _toxicity_hits_col(text_col)
    ratio = F.round(
        hits / F.greatest(token_count_col(text_col), F.lit(1)), 6
    )
    return flip_verdicts(verdicts, ratio > max_ratio, "toxic", text_col)


# Gopher / MassiveText (Rae et al. 2021, table A1) document-quality rules.
# The eight required stopwords of the original rule set.
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_GW_ARRAY = "array(" + ",".join(f"'{w}'" for w in GOPHER_REQUIRED_WORDS) + ")"


def gopher_columns(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Attach the Gopher/MassiveText document-quality signals and the
    combined verdict. One pure-codegen scan (split/filter/size built-ins,
    no Python, no shuffle); every expression has a mechanical DuckDB twin.

      - n_words, mean_word_len        (whitespace words)
      - hash_word_ratio               '#' occurrences / words       (<=0.1)
      - ellipsis_word_ratio           '...' occurrences / words     (<=0.1)
      - bullet_line_frac              lines starting '- ' or '*'    (<=0.9)
      - ellipsis_line_frac            lines ending '...'            (<=0.3)
      - alpha_word_frac               words with an a-z char        (>=0.8)
      - n_required_words              of GOPHER_REQUIRED_WORDS      (>=2)
      - gopher_keep                   all rules pass

    Thresholds and word list are the published rule set; word-count
    bounds are parameters because corpus token conventions differ."""
    toks = tokens_expr(text_col)
    lines = f"filter(split({text_col}, '\\n'), l -> trim(l) <> '')"
    n_words = f"size({toks})"
    nz = f"greatest({n_words}, 1)"
    n_lines = f"greatest(size({lines}), 1)"
    hash_ratio = (
        f"cast(size(regexp_extract_all({text_col}, '#', 0)) as double) / {nz}"
    )
    ell_ratio = (
        f"cast(size(regexp_extract_all({text_col}, '\\\\.\\\\.\\\\.', 0)) as double) / {nz}"
    )
    bullet_frac = (
        f"cast(size(filter({lines}, l -> left(trim(l), 2) = '- '"
        f" or left(trim(l), 1) = '*')) as double) / {n_lines}"
    )
    ell_line_frac = (
        f"cast(size(filter({lines}, l -> right(trim(l), 3) = '...')) as double)"
        f" / {n_lines}"
    )
    alpha_frac = (
        f"cast(size(filter({toks}, w -> w rlike '[a-z]')) as double) / {nz}"
    )
    n_req = f"size(filter({_GW_ARRAY}, s -> array_contains({toks}, s)))"
    out = (
        df.withColumn("n_words", F.expr(n_words))
        .withColumn("mean_word_len", F.round(mean_word_len_col(text_col), 6))
        .withColumn("hash_word_ratio", F.round(F.expr(hash_ratio), 6))
        .withColumn("ellipsis_word_ratio", F.round(F.expr(ell_ratio), 6))
        .withColumn("bullet_line_frac", F.round(F.expr(bullet_frac), 6))
        .withColumn("ellipsis_line_frac", F.round(F.expr(ell_line_frac), 6))
        .withColumn("alpha_word_frac", F.round(F.expr(alpha_frac), 6))
        .withColumn("n_required_words", F.expr(n_req))
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("hash_word_ratio") <= 0.1)
        & (F.col("ellipsis_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_required_words") >= 2)
    )
    return out.withColumn("gopher_keep", keep)


def apply_gopher_gate(
    verdicts: DataFrame,
    text_col: str = "clean_text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher rule battery composing AFTER the puddin rules (mirror of
    apply_quality_gate): kept docs failing any MassiveText rule flip to
    keep=false with excl_type='gopher' (clean_text nulled per the verdict
    contract). Pure codegen projection — no shuffle, no Python."""
    scored = gopher_columns(
        verdicts, text_col, min_words=min_words, max_words=max_words
    )
    return flip_verdicts(
        scored, ~F.col("gopher_keep"), "gopher", text_col
    ).select(*verdicts.columns)


# C4 (Raffel et al. 2020, §2.2) web-page cleaning. Line-level: keep only
# lines ending in terminal punctuation, with >= min_line_words words, and
# not mentioning javascript. Page-level: drop pages with code braces,
# 'lorem ipsum', or fewer than min_sentences sentences after line cleaning.
# (The paper's remaining steps live elsewhere: bad-word filtering =
# apply_toxicity_gate, three-sentence-span dedup = dedup.repeated_spans,
# English filtering = the langid gates.)
C4_TERMINAL_RE = '[.!?"]$'


def c4_columns(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """Attach the C4 cleaning signals and the combined page verdict. One
    pure-codegen scan (split/filter/array_join built-ins — no shuffle, no
    Python); every expression has a mechanical DuckDB twin.

      - c4_text       text rebuilt from the retained lines (chr(10)-joined)
      - n_lines       non-blank lines before cleaning
      - n_lines_kept  lines surviving the three line rules
      - n_sentences   terminal-punctuation marks in c4_text
      - has_brace     page contains '{' (code page)
      - has_lorem     page contains 'lorem ipsum'
      - c4_keep       page survives: no brace/lorem, >= min_sentences,
                      and at least one retained line"""
    lines = f"filter(split({text_col}, chr(10)), l -> trim(l) <> '')"
    kept = (
        f"filter({lines}, l -> trim(l) rlike '{C4_TERMINAL_RE}'"
        f" and size(split(trim(l), '\\\\s+')) >= {min_line_words}"
        f" and lower(l) not like '%javascript%')"
    )
    out = (
        df.withColumn("c4_text", F.expr(f"array_join({kept}, chr(10))"))
        .withColumn("n_lines", F.expr(f"size({lines})"))
        .withColumn("n_lines_kept", F.expr(f"size({kept})"))
        .withColumn(
            "n_sentences",
            F.expr("size(regexp_extract_all(c4_text, '[.!?]', 0))"),
        )
        .withColumn("has_brace", F.expr(f"contains({text_col}, '{{')"))
        .withColumn(
            "has_lorem", F.expr(f"contains(lower({text_col}), 'lorem ipsum')")
        )
    )
    keep = (
        ~F.col("has_brace")
        & ~F.col("has_lorem")
        & (F.col("n_sentences") >= min_sentences)
        & (F.col("n_lines_kept") >= 1)
    )
    return out.withColumn("c4_keep", keep)


def apply_c4_gate(
    verdicts: DataFrame,
    text_col: str = "clean_text",
    min_line_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4 cleaning composed AFTER the puddin rules: kept pages failing the
    page-level rules flip to keep=false with excl_type='c4' (clean_text
    nulled per the verdict contract); kept survivors get their text
    REWRITTEN to the retained lines (C4 removes bad lines, not just bad
    pages — same text-rewriting shape as dedup.trim_repeated_spans).
    Pure codegen projection — no shuffle, no Python."""
    scored = c4_columns(
        verdicts, text_col,
        min_line_words=min_line_words, min_sentences=min_sentences,
    ).withColumn(
        # the signals above judged the original page; kept text becomes
        # the retained lines, then failing pages flip (text nulled)
        text_col,
        F.when(F.col("keep"), F.col("c4_text")).otherwise(F.col(text_col)),
    )
    return flip_verdicts(
        scored, ~F.col("c4_keep"), "c4", text_col
    ).select(*verdicts.columns)


def perplexity_buckets(
    df: DataFrame,
    ppl_col: str = "ppl",
    group_cols: tuple[str, ...] = ("lang",),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity tiering: within each group (typically per
    language), rank documents by LM perplexity and cut into equal tiles —
    `head` = most-fluent third, `tail` = least. CCNet (Wenzek et al.
    2020) keeps head+middle for pre-training; downstream mixers weight
    tiles differently. Implemented as a single ntile window (partial sort
    within each hash partition, one shuffle on the group key); the
    (ppl, id) ordering key makes tile membership deterministic even when
    perplexities tie. Adds `ppl_bucket`."""
    from pyspark.sql.window import Window

    n = len(labels)
    if n < 2:
        raise ValueError("need at least 2 bucket labels")
    w = Window.partitionBy(*group_cols).orderBy(ppl_col, id_col)
    tile = F.ntile(n).over(w)
    expr = None
    for i, name in enumerate(labels[:-1], start=1):
        cond = tile == F.lit(i)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = expr.otherwise(labels[-1])
    return df.withColumn("ppl_bucket", expr)
