"""Deduplication operators for web-scale corpora.

Near-duplicate families (exact keep-first dedup is pipeline.dedup_first
and quality_pipeline's narrow decision — the shuffle moves 32-byte sha256
digests, never document bodies):
- minhash + LSH banding: shingles -> k minhashes -> band keys -> candidate
  pairs -> exact-Jaccard verification. Built ENTIRELY from built-in
  expressions (md5/transform/aggregate) — no Python in the hot path. Batch
  pairing (minhash_lsh_pairs) collects each band bucket's ids in one
  aggregation; incremental pairing goes through bucket_pairs, the one
  new/committed bucket self-join the incremental minhash and SRP
  generators share.
- simhash: 64-bit token-hash sign-aggregate fingerprint; Hamming-adjacent
  buckets for near-dup candidates.
- n-gram Jaccard: exact word-n-gram overlap for candidate pairs (the
  verification primitive, also exposed standalone).

All hashing is md5-hex based so a DuckDB oracle can reproduce results
bit-for-bit (Spark's xxhash64/hash are not portable across engines).
"""
from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from puddin_spark.pipeline import flip_verdicts


def char_shingles(text_col: str, k: int = 5):
    """Distinct character k-grams as an array column (built-ins only)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f" i -> substr({text_col}, i, {k})))"
    )


def minhash_signature(
    shingle_col: str, num_hashes: int = 16, hash_impl: str = "md5"
):
    """k minhashes per document.

    hash_impl='md5' (default): lexicographic min of md5(shingle || ':' || j)
    hex strings — portable, so a DuckDB oracle replays it bit-for-bit; this
    is what the correctness gate grades.
    hash_impl='xxhash64': numeric min of xxhash64(shingle, j) — one JVM
    64-bit hash instead of k md5-hex evaluations per shingle (the dominant
    hash cost of the md5 path: ~16 md5s per shingle at k=16). Same minhash
    semantics (min over a uniform hash family; candidate recall on
    borderline pairs can differ by the usual LSH probability), measured
    1.5-1.7x faster end-to-end at sf0.1 (shingling + exact verification
    dominate the rest), NOT cross-engine portable. Use at production scale;
    keep md5 when an external oracle must reproduce signatures.
    """
    if hash_impl == "xxhash64":
        return F.array(
            *[
                F.expr(f"array_min(transform({shingle_col}, s -> xxhash64(s, {j})))")
                for j in range(num_hashes)
            ]
        )
    if hash_impl != "md5":
        raise ValueError(f"hash_impl must be 'md5' or 'xxhash64', got {hash_impl!r}")
    return F.array(
        *[
            F.expr(f"array_min(transform({shingle_col}, s -> md5(concat(s, ':{j}'))))")
            for j in range(num_hashes)
        ]
    )


def _band_key_cols(num_bands: int, band_size: int, hash_impl: str) -> list:
    """One key column per LSH band over the `mh` signature array — the
    SINGLE definition both the full-corpus and incremental pair generators
    use (their equivalence depends on bit-identical band keys)."""
    if hash_impl == "xxhash64":
        # numeric signatures: one JVM hash over the band's minhashes
        return [
            F.xxhash64(*[F.expr(f"mh[{b * band_size + r}]") for r in range(band_size)])
            for b in range(num_bands)
        ]
    return [
        F.md5(
            F.concat_ws(
                "|",
                *[F.expr(f"mh[{b * band_size + r}]") for r in range(band_size)],
            )
        )
        for b in range(num_bands)
    ]


def _cap_buckets(
    rows: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Drop hot buckets (more than max_bucket rows per `keys` value) from
    pair generation (see minhash_lsh_pairs); window count over the join
    key — one pass, same shuffle the join needs. The one hot-bucket cap
    of every max_bucket-taking LSH pair generator."""
    if max_bucket is None:
        return rows
    return (
        rows.withColumn("_bn", F.count("*").over(Window.partitionBy(*keys)))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def bucket_pairs(
    new_rows: DataFrame,
    committed_rows: DataFrame | None,
    keys: list[str],
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs from a bucket self-join: (id, *keys) bucket rows of
    a new batch and, for INCREMENTAL pairing, of the committed corpus in
    (committed_rows=None pairs the batch alone); one (id_a, id_b, *keys,
    committed_side) row per id_a < id_b pair sharing a bucket with at
    least one NEW endpoint out — never committed-vs-committed.
    committed_side is true when one endpoint is committed (the keep-first
    policy drops the NEW doc then). A pair sharing several buckets yields
    one row per bucket; callers collapse them.

    Plan shape: only the committed side semi-joins against the batch's
    bucket keys (the shuffle carries committed rows only for keys the batch
    produced, and a key-partitioned committed table prunes files); the cap
    (_cap_buckets) counts each surviving bucket's full membership, so a
    capped incremental run drops exactly the buckets a capped full-corpus
    run drops; then one self-join on the keys. Verification (exact
    Jaccard / cosine) is the caller's, on the surviving candidates only."""
    rows = new_rows.select("id", *keys, F.lit(True).alias("_new"))
    if committed_rows is not None:
        rows = rows.unionByName(
            committed_rows.select("id", *keys)
            .join(rows.select(*keys).distinct(), keys, "left_semi")
            .withColumn("_new", F.lit(False))
        )
    rows = _cap_buckets(rows, keys, max_bucket)
    a = rows.select(F.col("id").alias("id_a"), F.col("_new").alias("new_a"), *keys)
    b = rows.select(F.col("id").alias("id_b"), F.col("_new").alias("new_b"), *keys)
    return (
        a.join(b, keys)
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("new_a") | F.col("new_b")))
        .select(
            "id_a",
            "id_b",
            *keys,
            (~(F.col("new_a") & F.col("new_b"))).alias("committed_side"),
        )
    )


def _verify_jaccard(
    cand: DataFrame, sh_only: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate (id_a, id_b) pairs;
    shingle arrays rejoin here, AFTER candidate dedup, so the band join
    never carries them. Preserves any extra columns on `cand`.

    Plan shape (r6): candidates explode to one row per pair ENDPOINT and
    join the shingle table ONCE, then regroup per pair. The previous
    two-join form (cand x sh on id_a, then x sh on id_b) evaluated the
    whole shingle subtree twice — Catalyst does not share identical
    subtrees across joins — and reshuffled the full shingle table a second
    time even when candidates are few. One join = one shingle evaluation
    and only candidate-side rows in the regroup shuffle."""
    extra = [c for c in cand.columns if c not in ("id_a", "id_b")]
    sides = cand.select(
        "id_a",
        "id_b",
        *extra,
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("id"), F.lit(0).alias("side")),
                F.struct(F.col("id_b").alias("id"), F.lit(1).alias("side")),
            )
        ).alias("_e"),
    ).select("id_a", "id_b", *extra, F.col("_e.id").alias("id"), F.col("_e.side").alias("side"))
    joined = sides.join(sh_only.select("id", "sh"), "id")
    # exactly one non-null per side per pair, so max() is a deterministic
    # "the one value" pick (and keeps the aggregation partial-agg friendly)
    paired = joined.groupBy("id_a", "id_b", *extra).agg(
        F.max(F.when(F.col("side") == 0, F.col("sh"))).alias("sh_a"),
        F.max(F.when(F.col("side") == 1, F.col("sh"))).alias("sh_b"),
    )
    return (
        paired.withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", *extra)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    shingle_mode: str = "word",
    hash_impl: str = "md5",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded minhash, verified by exact
    shingle Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.

    shingle_mode='word' (k-word grams) is the at-scale default: character
    shingles over boilerplate-heavy corpora concentrate minhash values into
    a few giant LSH buckets (the band self-join degenerates quadratically);
    word grams keep buckets discriminative. 'char' remains for short-text
    workloads.

    Scale shape: signatures are tiny (k hex strings), band explode multiplies
    rows by num_bands, the self-join shuffles ONLY (id, band) on band hash,
    and only deduped candidates ever touch the shingle arrays again.

    max_bucket guards the degenerate-bucket blowup: a band bucket of size m
    contributes m^2/2 candidate pairs, so ONE hot bucket (boilerplate-heavy
    corpora collapse many docs into identical minhash bands — observed here
    with char shingles) turns the join quadratic. Buckets larger than
    max_bucket are dropped from candidate generation (standard practice at
    scale; recall cost is bounded because a true near-dup pair colliding
    only in hot buckets is, by construction, near-duplicate to *every*
    member of that bucket — revisit such buckets with exact grouping
    instead). None = no cap (exact LSH semantics; what the oracle-paired
    gate uses).

    Memory contract: pairs come from bucket-collect, so ONE band bucket's
    member ids form ONE collect_list row, and every row its first explode
    emits carries that whole array — a bucket of m members costs O(m) ids
    in a single row and O(m^2) emitted pairs in one task. max_bucket=None
    leaves both unbounded: on corpora where mass-duplicated text can form
    a hot bucket, pass a cap (or run exact dedup first).
    """
    num_bands = num_hashes // band_size
    sh = (
        word_ngrams(text_col, shingle_k)
        if shingle_mode == "word"
        else char_shingles(text_col, shingle_k)
    )
    sig = (
        df.select(F.col(id_col).alias("id"), sh.alias("sh"))
        .withColumn("mh", minhash_signature("sh", num_hashes, hash_impl))
    )
    # the band self-join moves ONLY (id, band) — the shingle arrays rejoin
    # after candidate dedup, so shuffles stay narrow (scale-critical: at
    # 10^12 docs the band join is the big shuffle and must not carry bodies)
    bands = sig.select(
        "id",
        F.posexplode(
            F.array(*_band_key_cols(num_bands, band_size, hash_impl))
        ).alias("band_ix", "band_key"),
    )
    bands = _cap_buckets(bands, ["band_ix", "band_key"], max_bucket)
    # bucket-collect pair generation (r6): ONE shuffle (the same groupBy key
    # the old self-join needed) collects each bucket's member ids, and pairs
    # stream out of a two-level explode. The band/signature subtree is
    # evaluated ONCE — the self-join form evaluated it twice (Catalyst does
    # not share identical subtrees across join sides) — and no join is
    # planned at all. The inner `filter(ids, y -> y > id_a)` keeps the
    # intermediate per row at O(bucket) not O(bucket^2); a degenerate hot
    # bucket is still quadratic in emitted pairs, exactly as the join was
    # (that is what max_bucket bounds).
    # no dropDuplicates here: _verify_jaccard regroups by (id_a, id_b), so
    # multi-band duplicate candidates collapse in the aggregation it runs
    # anyway — a separate distinct would be one extra full shuffle
    cand = (
        bands.groupBy("band_ix", "band_key")
        .agg(F.collect_list("id").alias("_ids"))
        .where(F.size("_ids") > 1)
        .select(F.explode("_ids").alias("id_a"), F.col("_ids"))
        .select(
            "id_a",
            F.explode(F.expr("filter(_ids, y -> y > id_a)")).alias("id_b"),
        )
    )
    return _verify_jaccard(cand, sig.select("id", "sh"), jaccard_threshold)


# --- simhash (64-bit, token-level) ---

def simhash64(text: str) -> int:
    """Pure-Python 64-bit simhash over whitespace tokens, md5-based (so a SQL
    oracle can reproduce it). Sign-aggregate of token hash bits. This is the
    readable spec; the UDF below is the vectorized bit-identical twin."""
    acc = [0] * 64
    toks = set(text.split())
    for tok in toks:
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    v = 0
    for b in range(64):
        if acc[b] > 0:
            v |= 1 << b
    # map to signed int64 for Spark LongType
    return v - (1 << 64) if v >= (1 << 63) else v


# token -> uint64(first 8 md5 bytes, big-endian); web vocab repeats heavily
# across batches, so the cache turns md5 into an amortized dict lookup
_TOKEN_HASH_CACHE: dict[str, int] = {}
_TOKEN_HASH_CACHE_MAX = 2_000_000


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized simhash: md5 once per *unique* token (cached), then numpy
    does the 64-bit sign-aggregate — bits = (V x 64) unpacked matrix, per-doc
    popcounts are row-gather + column sum. Bit-identical to simhash64 (the
    sign test acc > 0 is equivalent to 2*ones > n_tokens)."""
    import numpy as np

    tok_sets = [set(t.split()) if isinstance(t, str) else None for t in texts]
    cache = _TOKEN_HASH_CACHE
    vocab: dict[str, int] = {}
    for toks in tok_sets:
        if not toks:
            continue
        for tok in toks:
            if tok not in vocab:
                vocab[tok] = len(vocab)
    if len(cache) > _TOKEN_HASH_CACHE_MAX:
        cache.clear()
    hashes = np.empty(len(vocab), dtype=np.uint64)
    for tok, ix in vocab.items():
        h = cache.get(tok)
        if h is None:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            cache[tok] = h
        hashes[ix] = h
    # bits[v, b] = bit b of token v's hash (b = 0 is the LSB, as in simhash64)
    bits = (
        (hashes[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    ).astype(np.int32)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    out = np.zeros(len(tok_sets), dtype=np.int64)
    mask = np.ones(len(tok_sets), dtype=bool)
    for i, toks in enumerate(tok_sets):
        if toks is None:
            mask[i] = False
            continue
        if not toks:
            continue
        idx = np.fromiter((vocab[t] for t in toks), dtype=np.int64, count=len(toks))
        ones = bits[idx].sum(axis=0)
        sign = 2 * ones > len(toks)  # acc = 2*ones - n > 0
        u = int(weights[sign].sum(dtype=np.uint64))
        out[i] = u - (1 << 64) if u >= (1 << 63) else u
    res = pd.Series(out, index=texts.index, dtype="Int64")
    res[~mask] = pd.NA
    return res


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return _simhash_batch(texts)


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return df.select(F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col="doc_id", text_col="text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance, blocked on 16-bit chunks:
    two 64-bit hashes within Hamming distance 3 share at least one exact
    16-bit quarter (pigeonhole), so the self-join runs on quarter keys, not
    the full cross product."""
    sims = simhash_table(df, id_col, text_col)
    q = sims.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(*[F.expr(f"(simhash >> {16 * i}) & 65535") for i in range(4)])
        ).alias("qix", "qval"),
    )
    # NOTE (r6): the bucket-collect pair form used in minhash_lsh_pairs was
    # tried here and measured 5x SLOWER (2.1 s -> 11 s at sf0.1): exact
    # duplicate texts share a simhash, so quarter buckets are hot, and the
    # per-member `filter(members, ...)` lambda is an interpreted O(m) scan —
    # O(m^2) interpreted ops per hot bucket vs the hash join's codegen'd
    # pair emission. The self-join stays; it is the right shape when buckets
    # can be large.
    a = q.select(F.col("id").alias("id_a"), F.col("simhash").alias("h_a"), "qix", "qval")
    b = q.select(F.col("id").alias("id_b"), F.col("simhash").alias("h_b"), "qix", "qval")
    pairs = (
        a.join(b, ["qix", "qval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.expr("h_a ^ h_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


def word_ngrams(text_col: str, n: int = 3):
    """Distinct word n-grams as an array column (built-ins only).

    The token array is let-bound via a 1-element `transform` wrapper: naively
    inlining `split(...)` into the per-position lambda re-tokenizes the whole
    document for EVERY gram position (O(len^2) — profiled as the dominant
    cost of the minhash family at sf0.1), while binding it as the lambda
    argument evaluates the split exactly once per document. Bit-identical
    output, plan-level change only."""
    toks = f"split(trim({text_col}), '\\\\s+')"
    return F.expr(
        f"flatten(transform(array({toks}), tk ->"
        f" array_distinct(transform(sequence(1, greatest(size(tk) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(tk, i, {n}))))))"
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ANY word
    n-gram with an evaluation set — the n-gram-overlap hygiene rule of
    GPT-2/GPT-3-style training-data preparation (13-gram overlap is the
    published convention; pass n=8..13 per policy). The complement of the
    dedup family: dedup removes training-internal duplication,
    decontamination removes train/test leakage.

    Scale shape: the EVAL side is small by construction (a benchmark
    suite, not a corpus) — its distinct n-grams broadcast; the corpus
    explodes grams once and inner-joins against the broadcast set, so
    only MATCHING (id, gram) rows reach the aggregation shuffle and
    document bodies never shuffle at all. At 10^12 docs the cost is one
    codegen'd gram projection per doc plus a broadcast-hash probe.

    Returns (id, n_contaminated) for flagged documents — distinct
    contaminated-gram count per doc, ready for an anti-join drop or an
    excl_type='contaminated' verdict flip."""
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(text_col, n)).alias("g"),
    )
    eval_grams = (
        eval_docs.select(F.explode(word_ngrams(eval_text_col, n)).alias("g"))
        .distinct()
    )
    return (
        grams.join(F.broadcast(eval_grams), "g")
        # doc grams are array_distinct already: count(*) = distinct grams
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def apply_decontamination_gate(
    verdicts: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 13,
    text_col: str = "clean_text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Decontamination as a verdict gate composing AFTER the rule battery
    (the apply_quality_gate/apply_toxicity_gate contract): kept docs
    sharing any word n-gram with `eval_docs` flip to keep=false with
    excl_type='contaminated' (clean_text nulled); already-dropped docs
    pass through untouched. The flag join is `decontaminate`'s broadcast
    probe — document bodies never shuffle."""
    flagged = decontaminate(
        verdicts.filter("keep").select("doc_id", text_col),
        eval_docs,
        n=n,
        id_col="doc_id",
        text_col=text_col,
        eval_text_col=eval_text_col,
    ).select(F.col("id").alias("doc_id"))
    return flip_verdicts(verdicts, flagged, "contaminated", text_col)


def repeated_spans(
    docs: DataFrame,
    *,
    window: int = 50,
    min_docs: int = 2,
    stride: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Cross-document repeated-span detection — the hashed-window
    approximation of exact substring deduplication (Lee et al. 2022,
    *Deduplicating Training Data Makes Language Models Better*, which
    removes verbatim 50-token spans repeated across documents; their
    suffix array is replaced here by span hashing, the standard
    distributed approximation). Returns (id, pos, span_hash) for every
    length-`window` token span whose hash occurs in >= `min_docs`
    DISTINCT documents; `pos` is the 1-based token index of the span
    start. Downstream policy decides what to do with the flagged spans
    (mask them, trim them, or drop documents past a threshold).

    Scale shape: the explode emits (id, pos, hash) rows only — with
    hash_impl='xxhash64' that is ~24 bytes/span, so a stride-1 sweep of a
    d-token document costs ~24*(d-window) shuffle bytes, NOT a copy of
    the text. The duplicate-hash set comes from one map-side-combined
    groupBy; the flag join is a shuffle equi-join on the hash (the dup
    set is corpus-dependent — broadcast only if measured small). `stride`
    > 1 subsamples span starts to cut the explode factor; spans aligned
    differently than the stride in different documents are then missed
    (recall/cost trade documented at call sites). hash_impl='md5' exists
    for engine-parity oracles, mirroring minhash's hash_impl contract.
    """
    if window < 1 or stride < 1 or min_docs < 2:
        raise ValueError(
            f"window/stride must be >=1, min_docs >=2: {window}/{stride}/{min_docs}"
        )
    if hash_impl not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_impl: {hash_impl}")
    toks = f"split(trim({text_col}), '\\\\s+')"
    gram = f"concat_ws(' ', slice(tk, i, {window}))"
    h = f"md5({gram})" if hash_impl == "md5" else f"xxhash64({gram})"
    spans = docs.where(F.expr(f"size({toks}) >= {window}")).select(
        F.col(id_col).alias("id"),
        # the token array is let-bound (see word_ngrams): inlining the split
        # into the per-position lambda re-tokenizes per span start, O(len^2)
        F.posexplode(
            F.expr(
                f"flatten(transform(array({toks}), tk ->"
                f" transform(sequence(1, size(tk) - {window} + 1, {stride}),"
                f" i -> {h})))"
            )
        ).alias("_p", "span_hash"),
    )
    # posexplode is 0-based over the stride lattice; recover token index
    spans = spans.select(
        "id", (F.col("_p") * stride + 1).alias("pos"), "span_hash"
    )
    dup = (
        spans.groupBy("span_hash")
        .agg(F.count_distinct("id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("span_hash")
    )
    return spans.join(dup, "span_hash").select("id", "pos", "span_hash")


def trim_repeated_spans(
    docs: DataFrame,
    *,
    window: int = 50,
    stride: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_impl: str = "xxhash64",
    out_col: str = "trimmed_text",
) -> DataFrame:
    """Remove all-but-first occurrences of cross-document repeated spans
    — Lee et al. 2022's keep-one policy over `repeated_spans` flags.
    Occurrences of each duplicated span hash are ranked by (id, pos); the
    rank-1 occurrence survives, every other occurrence contributes its
    [pos, pos+window) token interval to that document's removal set, and
    the document text is rebuilt without the removed tokens (overlapping
    intervals union naturally at the token-mask level).

    Output adds `out_col` = the trimmed text, single-space re-joined —
    EVERY document is rebuilt from its token array, so the transform
    normalizes runs of whitespace even where nothing was removed (this
    pipeline's scrub stages guarantee single-spaced input already).

    Scale shape: the heavy flow is `repeated_spans` (24-byte span rows);
    the rank window shuffles flagged spans only, removal starts aggregate
    to one array per affected document, and the rebuild is a JVM
    higher-order filter (token x removal-interval test — interpreted
    lambda, O(tokens * removals) per doc; documents with pathological
    removal counts are exactly the near-fully-duplicated ones, which a
    doc-level gate should have dropped first)."""
    spans = repeated_spans(
        docs,
        window=window,
        min_docs=2,
        stride=stride,
        id_col=id_col,
        text_col=text_col,
        hash_impl=hash_impl,
    )
    rank_w = Window.partitionBy("span_hash").orderBy("id", "pos")
    removals = (
        spans.withColumn("_rn", F.row_number().over(rank_w))
        .where(F.col("_rn") > 1)
        .groupBy("id")
        .agg(F.collect_list("pos").alias("_starts"))
    )
    toks = f"split(trim({text_col}), '\\\\s+')"
    rebuild = (
        f"concat_ws(' ', transform(filter("
        f"transform({toks}, (x, i) -> named_struct('w', x, 'i', i + 1)),"
        f" t -> NOT exists(coalesce(_starts, array()),"
        f" s -> t.i >= s AND t.i < s + {window})), t -> t.w))"
    )
    return (
        docs.join(
            removals.withColumnRenamed("id", id_col), id_col, "left"
        )
        .withColumn(out_col, F.expr(rebuild))
        .drop("_starts")
    )


def apply_repeated_span_gate(
    verdicts: DataFrame,
    *,
    window: int = 50,
    max_flagged: int = 0,
    stride: int = 1,
    text_col: str = "clean_text",
) -> DataFrame:
    """Repeated-span hygiene as a doc-level verdict gate (the
    apply_quality_gate/apply_decontamination_gate contract): kept docs
    with MORE than `max_flagged` duplicated-span occurrences flip to
    keep=false with excl_type='dup_spans' (clean_text nulled);
    already-dropped docs pass through untouched. The RefinedWeb-style
    document-drop policy — use `trim_repeated_spans` instead when the
    policy is to salvage documents by cutting the spans out. Spans are
    compared within `verdicts` only: as a run_resumable_pipeline gate
    that is the current batch, so cross-batch span hygiene means running
    `repeated_spans` over the accumulated kept corpus as a separate job."""
    flagged = (
        repeated_spans(
            verdicts.filter("keep").select("doc_id", text_col),
            window=window,
            min_docs=2,
            stride=stride,
            id_col="doc_id",
            text_col=text_col,
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_nspans"))
        .where(F.col("_nspans") > max_flagged)
        .select(F.col("id").alias("doc_id"))
    )
    return flip_verdicts(verdicts, flagged, "dup_spans", text_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.1,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact word-n-gram Jaccard for all pairs within a blocking key.

    block_col is effectively required: without one the self-join is a full
    cross product — O(n^2) pairs, a non-starter beyond a few thousand docs.
    Pass an LSH band, source bucket, or length bucket; set
    allow_quadratic=True only for small candidate sets you have already
    bounded some other way (the call raises otherwise, so the footgun fails
    at plan time, not three hours into a cluster run)."""
    if block_col is None and not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs without block_col is quadratic in the row "
            "count; pass block_col (LSH band / source / length bucket) or "
            "set allow_quadratic=True for an explicitly bounded input"
        )
    g = df.select(
        F.col(id_col).alias("id"),
        word_ngrams(text_col, n).alias("ng"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(0).alias("blk")] ),
    )
    # pair generation carries only (id, |ng|): J(a,b) >= t implies
    # min(|a|,|b|)/max(|a|,|b|) >= t (I <= min, U >= max), so the size-ratio
    # prefilter is exact — no candidate that could pass is dropped, and the
    # expensive array intersect only runs on surviving pairs
    sizes = g.select("id", "blk", F.size("ng").alias("ns"))
    a = sizes.select(F.col("id").alias("id_a"), F.col("ns").alias("ns_a"), "blk")
    b = sizes.select(F.col("id").alias("id_b"), F.col("ns").alias("ns_b"), "blk")
    cand = (
        a.join(b, "blk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("ns_a", "ns_b")
                >= F.lit(threshold) * F.greatest("ns_a", "ns_b")
            )
        )
        .select("id_a", "id_b")
    )
    # NOTE (r6): _verify_jaccard's single-join+regroup form was tried here
    # and measured SLOWER (1.1 -> 2.0 s at sf0.1): this verifier's candidate
    # set is the blocked all-pairs product (orders of magnitude larger than
    # an LSH candidate set), and the regroup shuffles two n-gram arrays per
    # surviving pair, while the two-join form computes jaccard inline and
    # filters before any further shuffle. Subtree duplication is the lesser
    # cost when candidates >> corpus.
    ng_only = g.select("id", "ng")
    return (
        cand.join(
            ng_only.select(F.col("id").alias("id_a"), F.col("ng").alias("ng_a")), "id_a"
        )
        .join(
            ng_only.select(F.col("id").alias("id_b"), F.col("ng").alias("ng_b")), "id_b"
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("ng_a", "ng_b"))
                / F.size(F.array_union("ng_a", "ng_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def free_local_checkpoints(df: DataFrame) -> None:
    """Release the executor storage blocks behind any localCheckpoint()ed
    ancestor of `df` (walks the analyzed plan's leaves for LogicalRDD nodes).
    DataFrame.unpersist cannot reach these: Dataset.localCheckpoint persists
    an internal RDD, not the Dataset. Call ONLY once nothing will recompute
    from the checkpoint — its lineage is truncated, so the blocks are the
    sole copy. Best-effort: plan-shape or API drift degrades to the default
    behavior (ContextCleaner frees the blocks when the driver GCs the RDD)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getName().endswith("LogicalRDD"):
                leaf.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — deliberate best-effort seam
        # API drift (these are py4j private internals) must be detectable:
        # without this log a Spark upgrade silently reverts every caller to
        # the storage-leak behavior this function exists to prevent.
        import logging

        logging.getLogger(__name__).debug(
            "free_local_checkpoints: plan walk failed; falling back to "
            "ContextCleaner-driven release",
            exc_info=True,
        )


def resolve_duplicate_clusters(
    pairs: DataFrame, *, max_iterations: int = 20
) -> DataFrame:
    """Near-dup pairs -> clusters: (id, root) where root is the MINIMUM id
    reachable through the pair graph — the missing resolution step between
    pair generation (minhash/simhash/ngram/embedding families) and an
    actual deduplicated corpus: every cluster keeps exactly one canonical
    document (its min id), everything else is a drop candidate.

    Connected components by iterative min-label propagation: each round,
    every node takes the min of its own label and its neighbors' labels.
    Scale shape: one self-join + partial-agg per round on (id, label) pairs
    — never the document bodies; rounds needed = O(component diameter),
    which for LSH-derived near-dup clusters (bucket cliques) is 2-3. The
    driver loop runs one cheap count per round for convergence and raises
    after max_iterations (a pathological 10^12-long chain is a data bug,
    not a workload). Deterministic: min() has no ties.

    Storage contract: each round's checkpoint blocks are freed as soon as
    the next round lands (free_local_checkpoints), so executor storage
    holds at most two rounds of (id, label) pairs at any moment regardless
    of iteration count. The RETURNED DataFrame is backed by the final
    round's checkpoint; its blocks release when the caller drops the frame
    (ContextCleaner), or immediately via free_local_checkpoints(result)
    once the caller has materialized everything derived from it.

    Each round costs two Spark jobs (checkpoint + convergence count) plus
    its shuffle stages: 26 jobs and 3-5 s for the two near-dedup sidecars
    of one 200-doc benchmark batch (a few dozen edges; 4 vCPUs at
    local[3]). Edge sets that fit in driver memory resolve identically,
    with no job, through union_find_min_roots; the near-dedup sidecars
    call this function only above their driver-side edge bound
    (snapshots._LOCAL_EDGES).
    """
    # both edge directions via ONE explode over the pair rows: the union-of-
    # two-selects form evaluated the whole upstream pair generation twice
    # (union branches are separate subtrees even under persist(), which only
    # caches the union's OUTPUT after both branches ran)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .persist()
    )
    # localCheckpoint (not just persist) each round: caching stores the DATA
    # but the LOGICAL PLAN still nests one join deeper per iteration, and
    # Catalyst analysis over the accumulated lineage grows super-linearly —
    # the classic iterative-algorithm wall. Checkpointing truncates lineage,
    # so every round plans against a flat scan.
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    try:
        for _ in range(max_iterations):
            # message-passing form (r6): neighbor labels and each node's own
            # label merge in ONE aggregation — the previous join+agg+left-
            # join chain paid an extra label-set shuffle per round. The own-
            # label row doubles as the _prev carrier (exactly one _self row
            # per id), so convergence stays a flat filter+count over the
            # just-materialized checkpoint blocks. (A two-hops-per-
            # checkpoint variant was measured SLOWER on the LSH graphs this
            # engine resolves: their diameter is 2-3, so the extra hop per
            # round exceeds the saved checkpoint+count job latency.)
            msgs = (
                edges.join(labels, edges.src == labels.id)
                .select(
                    F.col("dst").alias("id"), "label", F.lit(False).alias("_self")
                )
                .unionByName(
                    labels.select("id", "label", F.lit(True).alias("_self"))
                )
            )
            with_prev = (
                msgs.groupBy("id")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("_self"), F.col("label"))).alias("_prev"),
                )
                .localCheckpoint()
            )
            changed = with_prev.filter("label != _prev").count()
            # the prior round's checkpoint blocks are dead weight the moment
            # `changed` is computed — free them instead of leaking one
            # round's worth of executor storage per iteration
            free_local_checkpoints(labels)
            labels = with_prev.select("id", "label")
            if changed == 0:
                return labels.select("id", F.col("label").alias("root"))
        raise RuntimeError(
            f"duplicate-cluster resolution did not converge in "
            f"{max_iterations} rounds — component diameter exceeds the bound"
        )
    finally:
        edges.unpersist()


def union_find_min_roots(edges) -> dict:
    """Driver-side twin of resolve_duplicate_clusters for an edge list that
    fits in memory: {id: root} for every id on an (a, b) edge, root = the
    MINIMUM id of its connected component — the same (id, root) mapping.
    Union-find with path halving, linking the larger root under the
    smaller, so each set's root is always its minimum. O(E log V) at
    worst and no round bound: a chain of any length resolves."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 16,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    hash_impl: str = "md5",
) -> DataFrame:
    """Persistable minhash index: (id, sh, mh) — shingle array + signature
    per document. Write this next to the snapshot store at commit time and
    incremental runs never re-shingle the committed corpus (at 10^12 docs,
    recomputing signatures per ingest batch IS the cost)."""
    sh = (
        word_ngrams(text_col, shingle_k)
        if shingle_mode == "word"
        else char_shingles(text_col, shingle_k)
    )
    return df.select(F.col(id_col).alias("id"), sh.alias("sh")).withColumn(
        "mh", minhash_signature("sh", num_hashes, hash_impl)
    )


def band_table(
    index: DataFrame,
    *,
    num_hashes: int = 16,
    band_size: int = 2,
    hash_impl: str = "md5",
) -> DataFrame:
    """Exploded LSH band rows (id, band_ix, band_key, band_pfx) from a
    minhash_index frame — the persistable join side of the incremental
    near-dedup path. band_pfx is a 16-way prefix of the band key, always
    letter-prefixed ('p0'..'pf') so directory-partitioned parquet never
    infers a numeric partition type across commits. Write this next to the
    index with partition_by=['band_pfx']: an incremental batch then filters
    the committed bands to its OWN prefixes and the scan prunes whole
    partition directories instead of reading the full committed index
    (at 10^12 committed docs the band table is the per-batch read cost)."""
    num_bands = num_hashes // band_size
    bands = index.select(
        "id",
        F.posexplode(
            F.array(*_band_key_cols(num_bands, band_size, hash_impl))
        ).alias("band_ix", "band_key"),
    )
    if hash_impl == "xxhash64":
        pfx = F.concat(F.lit("p"), F.lower(F.hex(F.pmod("band_key", F.lit(16)))))
    else:
        pfx = F.concat(F.lit("p"), F.substring("band_key", 1, 1))
    return bands.withColumn("band_pfx", pfx)


def incremental_minhash_pairs(
    new_index: DataFrame,
    committed_index: DataFrame | None,
    *,
    num_hashes: int = 16,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    hash_impl: str = "md5",
    max_bucket: int | None = None,
    new_bands: DataFrame | None = None,
    committed_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL ingest: every pair touches at
    least one NEW document — new-vs-committed and new-vs-new, never
    committed-vs-committed (that work was done when those docs landed; at
    10^12 committed docs re-pairing the corpus per batch is the difference
    between an ingest pipeline and a full recompute).

    Inputs are minhash_index frames built with the SAME num_hashes/shingle
    params passed here (the band expressions need num_hashes as a plan-time
    constant). Returns (id_a, id_b, jaccard, committed_side) where committed_side is
    true when one endpoint is committed — the keep-first policy drops the
    NEW doc in that case (the committed doc already shipped), mirroring the
    store's exact text_sha resume dedup.

    Plan shape: bucket_pairs over the (id, band_ix, band_key) rows — only
    the committed side's bands semi-join against the NEW side's band keys
    (the shuffle carries committed (id, band) rows only for keys the batch
    actually produced); shingles rejoin for exact verification on the
    surviving candidates only.

    new_bands / committed_bands optionally supply PRECOMPUTED band_table()
    frames (same num_hashes/band_size/hash_impl) instead of re-deriving
    bands from the signatures: pass the persisted, band_pfx-partitioned
    committed band table — filtered to the batch's own prefixes — and the
    committed side's scan prunes files instead of recomputing 8 band keys
    per committed document per batch. Results are identical: a committed
    band row outside the batch's prefix set cannot equal any new band key.
    """
    kw = dict(num_hashes=num_hashes, band_size=band_size, hash_impl=hash_impl)
    if new_bands is None:
        new_bands = band_table(new_index, **kw)
    sh = new_index.select("id", "sh")
    if committed_index is None:
        committed_bands = None
    else:
        if committed_bands is None:
            committed_bands = band_table(committed_index, **kw)
        sh = sh.unionByName(committed_index.select("id", "sh"))
    # no dropDuplicates: _verify_jaccard regroups by (id_a, id_b,
    # committed_side) and committed_side is a pure function of the endpoint
    # ids, so multi-band duplicates collapse in the aggregation it runs
    # anyway (see minhash_lsh_pairs)
    cand = bucket_pairs(
        new_bands, committed_bands, ["band_ix", "band_key"], max_bucket
    ).select("id_a", "id_b", "committed_side")
    return _verify_jaccard(cand, sh, jaccard_threshold).select(
        "id_a", "id_b", "jaccard", "committed_side"
    )


def duplicate_cluster_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    granularity: int = 1 << 20,
) -> DataFrame:
    """SOFT dedup: instead of dropping near-duplicates, weight each
    document by the inverse of its duplicate-cluster size (the
    downweight-don't-drop convention: cluster members collectively count
    as one document, so repeated boilerplate stops dominating the loss
    without losing cluster-unique tails). Adds per document:

      - cluster_root   min id reachable through the pair graph (docs in
                       no cluster are their own root)
      - cluster_size   number of documents in the cluster (1 if none)
      - weight_q       granularity div cluster_size — the quantized
                       training weight (true weight = weight_q /
                       granularity ~ 1/cluster_size); integer arithmetic
                       so every engine agrees bit-for-bit

    Scale shape: resolve_duplicate_clusters carries only (id, label)
    pairs; the size join is per-cluster rows; the final join back to the
    corpus is id-to-id. Document bodies never shuffle."""
    resolved = resolve_duplicate_clusters(pairs)
    sizes = resolved.groupBy("root").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    per_doc = resolved.join(sizes, "root").select(
        F.col("id").alias(id_col),
        F.col("root").alias("cluster_root"),
        "cluster_size",
    )
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .withColumn(
            "cluster_root",
            F.coalesce(F.col("cluster_root"), F.col(id_col)),
        )
        .withColumn(
            "cluster_size",
            F.coalesce(F.col("cluster_size"), F.lit(1)).cast("bigint"),
        )
    )
    return out.withColumn(
        "weight_q", F.expr(f"{granularity} div cluster_size")
    )
