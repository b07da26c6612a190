"""Distributed KenLM-style n-gram LM (operators/ngram_lm.py): parity with a
plain-Python stupid-backoff reference, edge cases, and plan shape.

The catalog gates (ngram_lm_table / ngram_perplexity) are replayed against
their DuckDB oracles by tests/test_queries.py; this file proves the
SEMANTICS against an independent sequential implementation — the same
two-sided strategy the model gates use (golden from a Spark-free replay).
"""
from __future__ import annotations

import math
from functools import partial

import pytest

from puddin_spark.operators import ngram_lm as nlm

FP = nlm.FP_SCALE


# --- sequential reference implementation (independent of the Spark code) ---


def _py_counts(docs: list[str], n: int = 3):
    counts = [dict() for _ in range(n)]
    for doc in docs:
        toks = [t for t in doc.lower().split() if t]
        for k in range(1, n + 1):
            for i in range(len(toks) - k + 1):
                g = " ".join(toks[i : i + k])
                counts[k - 1][g] = counts[k - 1].get(g, 0) + 1
    return counts


def _py_lm(counts, n: int = 3):
    total = sum(counts[0].values())
    lm = {}
    for g, c in counts[0].items():
        lm[(1, g)] = int(round(math.log(c / total) * FP))
    for k in range(2, n + 1):
        for g, c in counts[k - 1].items():
            pfx = " ".join(g.split(" ")[: k - 1])
            lm[(k, g)] = int(round(math.log(c / counts[k - 2][pfx]) * FP))
    return lm


def _py_ppl(text: str, lm, n: int = 3, alpha: float = nlm.DEFAULT_ALPHA):
    """Stupid backoff from the highest order with available context:
    matched order m costs lp(m) + (start - m) * ln(alpha); a fully-OOV
    position takes the floor with no penalty."""
    la = int(round(math.log(alpha) * FP))
    fl = int(round(math.log(nlm.FLOOR_P) * FP))
    toks = [t for t in text.lower().split() if t]
    if not toks:
        return 0, None
    s = 0
    for i in range(len(toks)):
        start = min(i, n - 1) + 1
        got = None
        for m in range(start, 0, -1):
            v = lm.get((m, " ".join(toks[i - m + 1 : i + 1])))
            if v is not None:
                got = v + (start - m) * la
                break
        s += got if got is not None else fl
    return len(toks), round(math.exp(-(s / FP) / len(toks)), 4)


CORPUS = [
    "the cat sat on the mat",
    "the cat sat on the hat",
    "the dog sat on the mat",
    "a cat and a dog",
    "the the the the",
    "one",
    "two words",
    "",  # empty doc: n_tokens 0, ppl NULL
    "  padded   whitespace  tokens ",
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id bigint, text string"
    )


def test_counts_match_reference(spark, corpus_df):
    got = {
        (r["order"], r["gram"]): r["cnt"]
        for r in nlm.ngram_counts(corpus_df).collect()
    }
    ref = _py_counts(CORPUS)
    want = {
        (k, g): c for k in (1, 2, 3) for g, c in ref[k - 1].items()
    }
    assert got == want


def test_lm_logps_match_reference(spark, corpus_df):
    got = {
        (r["order"], r["gram"]): r["logp_fp"]
        for r in nlm.train_ngram_lm(corpus_df).collect()
    }
    want = _py_lm(_py_counts(CORPUS))
    assert got == want


def test_perplexity_matches_reference_all_backoff_paths(spark, corpus_df):
    lm_df = nlm.train_ngram_lm(corpus_df)
    got = {
        r["doc_id"]: (r["n_tokens"], r["ppl"])
        for r in nlm.score_perplexity(corpus_df, lm_df).collect()
    }
    lm = _py_lm(_py_counts(CORPUS))
    assert len(got) == len(CORPUS)
    for i, text in enumerate(CORPUS):
        n_tok, ppl = _py_ppl(text, lm)
        assert got[i][0] == n_tok, f"doc {i} n_tokens"
        assert got[i][1] == ppl, f"doc {i} ppl"


def test_scoring_oov_floor_and_backoff(spark, corpus_df):
    """Docs unseen at training time exercise every backoff path, including
    the OOV floor (token never seen as a unigram)."""
    lm_df = nlm.train_ngram_lm(corpus_df)
    new_docs = spark.createDataFrame(
        [
            (100, "the cat sat on the mat"),  # all trigrams seen: self path
            (101, "cat on mat"),  # seen unigrams, unseen bigrams
            (102, "zyx wvu tsr"),  # pure OOV: floor every position
            (103, "the zyx cat"),  # mixed
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r["ppl"]
        for r in nlm.score_perplexity(new_docs, lm_df).collect()
    }
    lm = _py_lm(_py_counts(CORPUS))
    for did, text in [
        (100, "the cat sat on the mat"),
        (101, "cat on mat"),
        (102, "zyx wvu tsr"),
        (103, "the zyx cat"),
    ]:
        assert got[did] == _py_ppl(text, lm)[1], did
    # the all-OOV doc sits exactly at the floor: exp(-ln(1e-7)) = 1e7
    assert got[102] == pytest.approx(1e7, rel=1e-4)
    # in-domain text scores (much) better than OOV gibberish
    assert got[100] < got[101] < got[102]


def test_min_count_prunes_high_orders_only(spark, corpus_df):
    lm = nlm.train_ngram_lm(corpus_df, min_count=2)
    rows = lm.collect()
    counts = _py_counts(CORPUS)
    # unigrams never pruned
    assert {r["gram"] for r in rows if r["order"] == 1} == set(counts[0])
    # orders >= 2: only grams with cnt >= 2 survive
    for k in (2, 3):
        want = {g for g, c in counts[k - 1].items() if c >= 2}
        assert {r["gram"] for r in rows if r["order"] == k} == want


def test_no_python_in_either_plan(spark, corpus_df):
    """Training and scoring are 100% JVM: no BatchEvalPython / ArrowEval
    nodes anywhere — the whole point of join-based scoring vs the
    models.CharLMModel UDF path."""
    lm_df = nlm.train_ngram_lm(corpus_df)
    for df in (lm_df, nlm.score_perplexity(corpus_df, lm_df)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan, plan
        assert "partial_count" in plan or "HashAggregate" in plan


def test_exploded_rows_do_not_carry_token_arrays(spark, corpus_df):
    """The position rows are built by transform-over-indices BEFORE the
    explode, so the generator's output schema carries only the small
    (w, h1, h2) struct — never the full token array (the O(len^2) giant-doc
    trap)."""
    lm_df = nlm.train_ngram_lm(corpus_df)
    plan = (
        nlm.score_perplexity(corpus_df, lm_df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # position explode lines: requiredChildOutput is [_id#...] — the
    # training-side explodes (counts) retain nothing ("false, [_g#...]")
    gen_lines = [
        ln
        for ln in plan.splitlines()
        if "Generate explode" in ln and ", [_id" in ln
    ]
    assert gen_lines, plan
    for ln in gen_lines:
        # requiredChildOutput (the [...] after the generator expression)
        # must not retain _t
        assert "_t" not in ln.split(", [_id", 1)[1], ln


def test_apply_ppl_gate_in_pipeline(spark, tmp_path):
    """run_resumable_pipeline(gates=[apply_ppl_gate]): the CCNet
    configuration — an LM trained on the in-domain kept corpus flips
    OOV-gibberish kept docs to excl_type='ppl' at ingest, leaves in-domain
    verdicts untouched, keeps the completeness invariant, and resumes as
    a no-op."""
    import datetime as dt

    from pyspark.sql import functions as F

    from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline
    from puddin_spark.synth import SPARK_SCHEMA_DDL, synth_pages_local

    pages = synth_pages_local(spark, 40).cache()
    probe = SnapshotStore(tmp_path / "probe")
    run_resumable_pipeline(spark, pages, probe, num_partitions=2)
    baseline = probe.read(spark)
    lm = nlm.train_ngram_lm(
        baseline.filter("keep").select(F.col("clean_text").alias("text")),
        materialize=True,
    )

    # gibberish pages: clean alphabetic words (the rule battery keeps
    # them) that are OOV to the LM (every position hits the 1e7 floor)
    gib = spark.createDataFrame(
        [
            (
                f"https://synth.example.org/gib/{i}",
                dt.datetime(2024, 1, 1),
                b"",
                # distinct per doc (identical bodies would fall to the
                # exact-dedup keep-first stage first) and pure-alpha
                # (a digit would trip the a0wrd rule before the ppl gate)
                ["oddish", "quibbly", "verplank"][i]
                + " zonk blip fargle wibble quorp snarfle dingle womble" * 6,
                "en",
            )
            for i in range(3)
        ],
        SPARK_SCHEMA_DDL,
    )
    store = SnapshotStore(tmp_path / "v")
    run_resumable_pipeline(
        spark,
        pages.unionByName(gib),
        store,
        num_partitions=2,
        gates=[partial(nlm.apply_ppl_gate, lm=lm, max_ppl=1e5)],
    )
    v = store.read(spark)
    flipped = v.filter("excl_type = 'ppl'")
    assert {r.url for r in flipped.collect()} == {
        f"https://synth.example.org/gib/{i}" for i in range(3)
    }
    assert flipped.filter("keep or clean_text is not null").count() == 0
    # in-domain verdicts identical to the ungated run
    base = {r.url: (r.keep, r.excl_type) for r in baseline.collect()}
    got = {
        r.url: (r.keep, r.excl_type)
        for r in v.collect()
        if not r.url.startswith("https://synth.example.org/gib/")
    }
    assert got == base
    # completeness: every page has exactly one verdict
    assert v.count() == baseline.count() + 3
    # rerun: resume no-op (the gate does not disturb the committed sets)
    snap2, n2 = run_resumable_pipeline(
        spark, pages.unionByName(gib), store, num_partitions=2,
        gates=[partial(nlm.apply_ppl_gate, lm=lm, max_ppl=1e5)],
    )
    assert (snap2, n2) == (-1, 0)


def test_scoring_plan_single_shuffle_no_join_back(spark, corpus_df):
    """Scoring with a broadcast LM is THREE BroadcastHashJoin probes plus
    exactly ONE shuffle (the per-doc aggregation): the zero-token docs
    ride a sentinel position row, so there is no corpus-wide join-back
    (no SortMergeJoin / ShuffledHashJoin anywhere)."""
    lm_df = nlm.train_ngram_lm(corpus_df, materialize=True)
    plan = (
        # checkpoint_lm: the production shape is an LM read from storage —
        # without it the plan string also contains the TRAINING subtree
        # (whose prefix self-join is a legitimate SortMergeJoin)
        nlm.score_perplexity(
            corpus_df, lm_df, broadcast_lm=True, checkpoint_lm=True
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert len(shuffles) == 1, plan


@pytest.mark.parametrize("order", [1, 2, 5])
def test_scoring_generalizes_to_any_order(spark, corpus_df, order):
    """score_perplexity at n=1 (pure unigram), n=2 (bigram) and n=5
    (CCNet's production KenLM order) matches the sequential reference,
    including on unseen text exercising deep backoff chains."""
    lm_df = nlm.train_ngram_lm(corpus_df, n=order, materialize=True)
    lm = _py_lm(_py_counts(CORPUS, n=order), n=order)
    probe = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)]
        + [(200, "the cat sat on the mat and the dog sat too"),
           (201, "zyx the cat wvu"),
           (202, "cat")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["ppl"])
        for r in nlm.score_perplexity(
            probe, lm_df, n=order, broadcast_lm=True
        ).collect()
    }
    texts = dict(
        [(i, t) for i, t in enumerate(CORPUS)]
        + [(200, "the cat sat on the mat and the dog sat too"),
           (201, "zyx the cat wvu"),
           (202, "cat")]
    )
    for did, text in texts.items():
        assert got[did] == _py_ppl(text, lm, n=order), (order, did)


def test_apply_ppl_gate_runs_at_trained_order(spark, corpus_df):
    """lm_order detects the artifact's order and the gate scores at it: a
    5-gram-trained LM flips exactly the docs the n=5 sequential reference
    says are above threshold."""
    lm_df = nlm.train_ngram_lm(corpus_df, n=5, materialize=True)
    assert nlm.lm_order(lm_df) == 5
    verdicts = spark.createDataFrame(
        [
            ("u0", "the cat sat on the mat", True, None),
            ("u1", "zyx wvu tsr qpo", True, None),  # OOV: floor, flips
            ("u2", "dropped earlier", False, "punc"),  # not kept: untouched
        ],
        "url string, clean_text string, keep boolean, excl_type string",
    )
    out = {
        r.url: (r.keep, r.excl_type)
        for r in nlm.apply_ppl_gate(verdicts, lm_df, max_ppl=1e5).collect()
    }
    assert out["u0"] == (True, None)
    assert out["u1"] == (False, "ppl")
    assert out["u2"] == (False, "punc")
    lm = _py_lm(_py_counts(CORPUS, n=5), n=5)
    assert _py_ppl("the cat sat on the mat", lm, n=5)[1] < 1e5
    assert _py_ppl("zyx wvu tsr qpo", lm, n=5)[1] > 1e5
