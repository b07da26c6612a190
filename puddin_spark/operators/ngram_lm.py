"""Distributed KenLM-style n-gram language model: train AND score as
DataFrame plans.

North-star surface: "KenLM-style n-gram perplexity scoring". The module
`models.CharLMModel` is the per-executor in-memory scorer (the seam a real
KenLM binary drops into); THIS module is the scale path for the model
*itself*: at 10^12 documents the n-gram table of a corpus-trained LM does
not fit on the driver or inside a Python worker, so both training and
scoring stay distributed:

- **Training** (`ngram_counts` -> `ngram_lm`): one scan of the corpus
  builds every order's grams via a single flatten/explode (no per-order
  re-scan), one shuffle aggregates counts (map-side partial aggregation —
  the shuffle carries (gram, partial-count), never gram instances), and a
  per-order prefix self-join converts counts to KenLM-format conditional
  probabilities: each row stores log p(w | history) directly, so scoring
  never joins for denominators.
- **Scoring** (`score_perplexity`): stupid backoff (KenLM's large-scale
  smoothing; Brants et al. 2007) from the highest order with available
  context. Three hash joins on gram keys — trigram, bigram, unigram —
  resolve each token position; backoff is a CASE over the join results
  with a constant log-alpha penalty per backed-off order. No Python
  anywhere in either path: every expression is codegen.

Determinism contract (the bit-exact oracle gate): log-probs are stored as
**fixed-point BIGINT micro-nats** (round(ln(p) * 1e6)). Every per-token
log-prob is therefore an exact integer, the per-document sum is integer
arithmetic (order-independent — float summation order would diverge
between engines and between runs), and only the final
perplexity = exp(-avg) returns to double, rounded to 4 dp.

Scale notes (100 TB shape):
- min_count pruning (orders >= 2) bounds the LM table; unigrams are never
  pruned so OOV backoff terminates at a real count, not the floor.
- The scoring joins are N-to-1 (LM grams are unique); hot probe keys
  (stopword unigrams) are classic AQE-skew-join territory — the LM side is
  tiny per key, so Spark's skew split handles it without salting.
- Pass broadcast_lm=True when the pruned LM fits in executor memory
  (common after min_count pruning even at large corpus scale — vocabulary
  grows ~ Heaps' law, not linearly); the three joins then ship no corpus
  bytes at all.

Reference analog: parse_pile.py's per-doc scoring loop is the sequential
twin; BASELINE.json names "KenLM-style n-gram perplexity scoring" as the
north-star component this module re-expresses Spark-first.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puddin_spark.pipeline import flip_verdicts

# fixed-point scale: micro-nats. 1e6 keeps |logp| * positions well inside
# BIGINT while making the ln-rounding granularity (1e-6 nat) far coarser
# than the <=1-ulp ln() disagreement between engines.
FP_SCALE = 1_000_000

DEFAULT_ALPHA = 0.4  # stupid-backoff penalty (Brants et al. 2007)
FLOOR_P = 1e-7  # OOV floor probability (matches models.CharLMModel)


def log_alpha_fp(alpha: float = DEFAULT_ALPHA) -> int:
    return int(round(math.log(alpha) * FP_SCALE))


def floor_fp() -> int:
    return int(round(math.log(FLOOR_P) * FP_SCALE))


def tokens_col(text_col: str = "text"):
    """Whitespace tokens of lowercased text, empties dropped — the exact
    tokenization the DuckDB oracles mirror (string_split_regex + filter)."""
    return F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: x != F.lit(""),
    )


def ngram_counts(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(order, gram, cnt) counts for every order 1..n in ONE corpus scan.

    All orders' grams emerge from a single flatten(array(transform...))
    projection followed by one explode — Catalyst keeps the whole gram
    generation inside WholeStageCodegen, and the only shuffle is the
    final partial-aggregated groupBy. gram is the space-joined token
    window (KenLM's text format)."""
    if n < 1:
        raise ValueError(f"ngram_counts: n must be >= 1, got {n}")
    per_order = []
    for k in range(1, n + 1):
        per_order.append(
            f"transform("
            f"  if(size(_t) >= {k}, sequence(1, size(_t) - {k} + 1), array()),"
            f"  i -> struct({k} as order, array_join(slice(_t, i, {k}), ' ') as gram))"
        )
    grams = F.expr("flatten(array(" + ", ".join(per_order) + "))")
    return (
        docs.select(tokens_col(text_col).alias("_t"))
        .filter(F.size("_t") > 0)
        .select(F.explode(grams).alias("_g"))
        .select(F.col("_g.order").alias("order"), F.col("_g.gram").alias("gram"))
        .groupBy("order", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ngram_lm(
    counts: DataFrame,
    n: int = 3,
    min_count: int = 1,
    prune_orders_from: int = 2,
) -> DataFrame:
    """KenLM-format model table (order, gram, logp_fp) from an
    ngram_counts frame: logp_fp = round(ln(p(w | history)) * 1e6) as
    BIGINT, where p = cnt(gram) / cnt(prefix) for order >= 2 and
    cnt / total_tokens for unigrams.

    The order-k numerator joins the order-(k-1) prefix counts on
    substring_index(gram, ' ', k-1) — a training-time-only self-join.
    min_count prunes orders >= prune_orders_from (unigrams stay: OOV
    backoff must terminate at a real count)."""
    counts = counts.select("order", "gram", "cnt")
    uni = counts.filter(F.col("order") == 1)
    total = uni.agg(F.sum("cnt").alias("_tot"))  # 1-row; broadcast join
    parts = [
        uni.join(F.broadcast(total))
        .select(
            "order",
            "gram",
            F.round(F.log(F.col("cnt") / F.col("_tot")) * FP_SCALE)
            .cast("bigint")
            .alias("logp_fp"),
        )
    ]
    for k in range(2, n + 1):
        num = counts.filter(F.col("order") == k)
        if min_count > 1 and k >= prune_orders_from:
            num = num.filter(F.col("cnt") >= min_count)
        den = counts.filter(F.col("order") == k - 1).select(
            F.col("gram").alias("_pfx"), F.col("cnt").alias("_dcnt")
        )
        parts.append(
            num.withColumn("_pfx", F.substring_index("gram", " ", k - 1))
            .join(den, "_pfx")
            .select(
                "order",
                "gram",
                F.round(F.log(F.col("cnt") / F.col("_dcnt")) * FP_SCALE)
                .cast("bigint")
                .alias("logp_fp"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def train_ngram_lm(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_count: int = 1,
    materialize: bool = False,
) -> DataFrame:
    """Corpus -> KenLM-format LM table in one plan (see ngram_lm).

    materialize=True localCheckpoints the counts table (vocab-scale, tiny
    next to the corpus) before the per-order prefix self-joins reference
    it — otherwise each of the ~6 references to `counts` in the LM plan
    re-scans the corpus. Production runs persist the trained LM to
    storage once and read it back; materialize covers in-plan composition
    (the catalog gates). Caller frees with dedup.free_local_checkpoints
    when done."""
    counts = ngram_counts(docs, text_col, n)
    if materialize:
        counts = counts.localCheckpoint(eager=True)
    return ngram_lm(counts, n=n, min_count=min_count)


def score_perplexity(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    alpha: float = DEFAULT_ALPHA,
    broadcast_lm: bool = False,
    checkpoint_lm: bool = False,
) -> DataFrame:
    """(id_col, n_tokens, ppl): stupid-backoff perplexity of each document
    under the LM table, entirely via joins — no per-row Python, no model
    object on any worker.

    Each token position becomes one small row (w, h1..h(n-1)) built by a
    transform-over-indices BEFORE the explode, so exploded rows never
    carry the document's token array (the naive posexplode-then-index
    plan copies the whole array into every position row — O(len^2) bytes
    per giant doc, exactly the skew the north-star calls out). One left
    join per order fetches log p; backoff picks the highest matched
    order m with penalty (start - m) * ln(alpha) in fixed point, where
    start = orders available at the position (1 + non-null histories).
    Integer-sum then one exp at the end. Any order n >= 1 works (CCNet's
    production configuration is a 5-gram KenLM); the LM must have been
    trained with at least that order.

    Documents with zero tokens return ppl = NULL (n_tokens = 0) via a
    SENTINEL position row (w = null), not a join-back: n_tokens falls
    out of the group's non-null-w count, so the whole result is ONE
    shuffle (the per-doc aggregation, mostly collapsed map-side because
    a doc's positions are generated within one partition) — the
    join-back alternative adds a second corpus-wide shuffle + sort that
    exists only to re-attach rows the aggregation already saw.
    Consequence: ids must be unique per input row (they are everywhere
    this engine scores: url / doc_id).

    checkpoint_lm=True localCheckpoints the LM before the three probes —
    required when `lm` is an in-plan derivation (each probe would
    otherwise re-run LM training); unnecessary when `lm` was read from
    storage, the production shape.
    """
    if n < 1:
        raise ValueError(f"score_perplexity: n must be >= 1, got {n}")
    if checkpoint_lm:
        lm = lm.localCheckpoint(eager=True)
    la = F.lit(log_alpha_fp(alpha))
    hists = [f"h{j}" for j in range(1, n)]  # h1 = previous word, ...
    struct_fields = ["_t[i-1] as w"] + [
        f"if(i >= {j + 1}, _t[i-{j + 1}], null) as h{j}" for j in range(1, n)
    ]
    sentinel_fields = ["cast(null as string) as w"] + [
        f"cast(null as string) as h{j}" for j in range(1, n)
    ]
    base = docs.select(F.col(id_col).alias("_id"), tokens_col(text_col).alias("_t"))
    pos = base.select(
        "_id",
        F.explode(
            F.expr(
                "if(size(_t) = 0,"
                f" array(struct({', '.join(sentinel_fields)})),"
                " transform(sequence(1, size(_t)), i -> struct("
                f"  {', '.join(struct_fields)})))"
            )
        ).alias("_p"),
    ).select("_id", "_p.w", *[f"_p.{h}" for h in hists])
    lm = lm.select("order", "gram", "logp_fp")
    if broadcast_lm:
        lm = F.broadcast(lm)
    scored = pos.withColumn("_k1", F.col("w"))
    for m in range(2, n + 1):
        # order-m key exists when the position has m-1 words of history
        scored = scored.withColumn(
            f"_k{m}",
            F.when(
                F.col(f"h{m - 1}").isNotNull(),
                F.concat_ws(
                    " ", *[f"h{j}" for j in range(m - 1, 0, -1)], "w"
                ),
            ),
        )
    for m in range(n, 0, -1):
        probe = lm.filter(F.col("order") == m).select(
            F.col("gram").alias(f"_k{m}"), F.col("logp_fp").alias(f"_lp{m}")
        )
        scored = scored.join(probe, f"_k{m}", "left")
    # start = highest order available at this position; backoff to matched
    # order m costs (start - m) * ln(alpha) — a single formula (for the
    # highest matched order the penalty is zero; keys above it are null)
    start = F.lit(1)
    for h in hists:
        start = start + F.col(h).isNotNull().cast("int")
    lp = F.when(F.col("w").isNull(), F.lit(None).cast("bigint"))
    for m in range(n, 0, -1):
        lp = lp.when(
            F.col(f"_lp{m}").isNotNull(),
            F.col(f"_lp{m}") + (start - F.lit(m)) * la,
        )
    scored = scored.withColumn("_lp", lp.otherwise(F.lit(floor_fp())))
    return (
        scored.groupBy("_id")
        .agg(F.sum("_lp").alias("_s"), F.count("w").alias("_c"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_c").cast("int").alias("n_tokens"),
            F.when(
                F.col("_c") > 0,
                F.round(
                    F.exp(-(F.col("_s") / F.lit(float(FP_SCALE))) / F.col("_c")),
                    4,
                ),
            ).alias("ppl"),
        )
    )


def lm_order(lm: DataFrame) -> int:
    """Highest order present in a KenLM-format table — the order a scorer
    should run at unless told otherwise (one tiny aggregate; the LM is
    vocab-scale, not corpus-scale)."""
    return int(lm.agg(F.max("order")).first()[0])


def apply_ppl_gate(
    verdicts: DataFrame,
    lm: DataFrame,
    max_ppl: float,
    text_col: str = "clean_text",
    id_col: str = "url",
    broadcast_lm: bool = True,
) -> DataFrame:
    """CCNet-style perplexity filter composing AFTER the rule battery
    (the apply_toxicity_gate / apply_gopher_gate contract): kept docs the
    LM scores ABOVE max_ppl flip to keep=false with excl_type='ppl'
    (clean_text nulled). `lm` is the persisted KenLM-format table (CCNet
    configuration: trained once on a TARGET-domain corpus via train-lm,
    then every ingest batch is scored against it); only kept docs are
    scored, and docs scoring NULL (zero tokens) pass through — emptiness
    is the rule battery's verdict to make, not the LM's. The flip rides a
    left join on id_col (scoring reorders rows); the per-order LM probes
    are broadcast by default, and scoring runs at the TRAINED order
    (lm_order) so a 5-gram artifact is consumed as a 5-gram model."""
    flips = (
        score_perplexity(
            verdicts.filter("keep").select(id_col, text_col),
            lm,
            text_col=text_col,
            id_col=id_col,
            n=lm_order(lm),
            broadcast_lm=broadcast_lm,
        )
        .filter(F.col("ppl") > max_ppl)
        .select(id_col)
    )
    return flip_verdicts(verdicts, flips, "ppl", text_col)
