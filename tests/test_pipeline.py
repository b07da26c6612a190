"""End-to-end Spark tests: synthetic web-page table -> pipeline -> invariants.

Mirrors the reference's correctness machinery (SURVEY.md section 5): golden
keep/drop counts + byte-identity on the embedded fixture docs, completeness
invariant (every url exactly once across keep/drop), dedup determinism, and
lineage counts.
"""
from __future__ import annotations

import json
from functools import partial
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from puddin_spark import rules
from puddin_spark.pipeline import (
    dedup_first,
    lineage_table,
    quality_pipeline,
    sentence_table,
    conllu_skeleton,
)
from puddin_spark.synth import gen_rows, synth_pages, synth_pages_local

GOLDEN = {
    f"https://fixtures.example.org/{r['sample']}/{r['text_id']}": r
    for r in json.loads(
        (Path(__file__).parent / "fixtures" / "golden.json").read_text()
    )
}

N = 400


@pytest.fixture(scope="module")
def verdicts(spark):
    pages = synth_pages_local(spark, N)
    out = quality_pipeline(pages, num_partitions=8)
    out.cache()
    out.count()
    return out


def test_dedup_drops_null_warc_ts_losers(spark):
    """r6 regression (caught in review): the broadcast-anti-join dedup must
    remove duplicate copies even when warc_ts is null — a composite
    (url, warc_ts) anti-join key would never match a null ts and the dup
    copy would survive. The loser key is url alone (the row key by
    contract), so null-ts losers drop exactly like the old window's."""
    rows = [
        ("https://a.example/1", None, "twin body words here once"),
        ("https://a.example/2", None, "twin body words here once"),
        ("https://a.example/3", "2021-01-01 00:00:00", "solo body words"),
    ]
    pages = spark.createDataFrame(
        [(u, ts, None, t, "en") for u, ts, t in rows],
        "url string, warc_ts string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    for kwargs in (dict(num_partitions=4), dict(num_partitions=None)):
        got = {r.url for r in quality_pipeline(pages, **kwargs).collect()}
        # nulls-first (ts, url) order: /1 wins the twin group, /2 drops
        assert got == {"https://a.example/1", "https://a.example/3"}, (kwargs, got)


def test_fixture_label_parity_e2e(verdicts):
    rows = verdicts.filter(F.col("url").startswith("https://fixtures")).collect()
    # fixture texts duplicated across sample-1/sample-2 dedup to the first
    # occurrence (synth warc_ts increases with row index)
    seen, survivors = set(), 0
    for g in GOLDEN.values():
        if g["raw"] not in seen:
            seen.add(g["raw"])
            survivors += 1
    assert len(rows) == survivors
    for r in rows:
        g = GOLDEN[r.url]
        want = None if g["label"] == "keep" else g["label"]
        assert r.excl_type == want, f"{r.url}: got {r.excl_type}, want {want}"
        if want is None:
            assert r.clean_text == g["clean"], f"{r.url}: clean_text bytes differ"
            assert r.keep
        else:
            assert r.clean_text is None and not r.keep


def test_completeness_invariant(spark, verdicts):
    """Every selected (en, deduped-first) url appears exactly once across
    keep ∪ drop (confirm_doc_ids.py:3-27 invariant)."""
    pages = synth_pages_local(spark, N)
    expected = dedup_first(pages.filter("lang = 'en'")).select("url")
    got = verdicts.select("url")
    assert got.count() == got.distinct().count()
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0
    # no doc is both kept and dropped
    assert (
        verdicts.filter("keep and excl_type is not null").count() == 0
    )
    assert verdicts.filter("not keep and clean_text is not null").count() == 0


def test_dedup_determinism(spark):
    """keep-first = min (warc_ts, url) per text — stable across runs and
    partitioning (FIXTURES.md invariant 5)."""
    pages = synth_pages_local(spark, N)
    a = dedup_first(pages).select("url", "text")
    b = dedup_first(pages.repartition(13)).select("url", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # duplicates exist in the synth table and only one survives
    dups = pages.groupBy("text").count().filter("count > 1")
    assert dups.count() > 0


def test_langid_gate(spark, verdicts):
    pages = synth_pages_local(spark, N)
    assert pages.filter("lang != 'en'").count() > 0
    assert verdicts.filter("lang != 'en'").count() == 0


def test_keepdrop_f1_vs_reference_labels(spark, verdicts):
    """The north rule's acceptance metric, computed explicitly: keep/drop
    F1 vs the reference's labels on the golden corpus must be >= 0.99
    (here: exactly 1.0 — the cascade is byte-parity with the reference)."""
    from puddin_spark.metrics import keepdrop_f1

    truth = spark.createDataFrame(
        [(u, g["label"] == "keep") for u, g in GOLDEN.items()],
        schema="url string, keep boolean",
    )
    pred = verdicts.filter(F.col("url").startswith("https://fixtures"))
    m = keepdrop_f1(pred, truth)
    assert m["f1"] == 1.0 and m["precision"] == 1.0 and m["recall"] == 1.0
    assert m["fp"] == 0 and m["fn"] == 0
    assert m["n_pred_only"] == 0  # every compared verdict has a label
    # labels whose text deduped away under keep-first are the only
    # uncompared rows; their count is fixed by the fixture corpus
    n_dup = len(GOLDEN) - len({g["raw"] for g in GOLDEN.values()})
    assert m["n_truth_only"] == n_dup
    assert m["tp"] + m["tn"] == len(GOLDEN) - n_dup


def test_lineage_counts(verdicts):
    lin = lineage_table(verdicts, num_partitions=8).collect()
    assert sum(r.n_docs for r in lin) == verdicts.count()
    assert sum(r.n_keep for r in lin) == verdicts.filter("keep").count()
    hit_total = sum(sum(r.rule_hit_counts.values()) for r in lin)
    assert hit_total == verdicts.count()
    for r in lin:
        assert r.n_keep == r.rule_hit_counts.get("keep", 0)


def test_distributed_synth_matches_local(spark):
    """mapInPandas generation must equal driver-side generation row-for-row
    (pure function of index)."""
    a = synth_pages(spark, 150, parts=7).select("url", "text", "lang")
    b = synth_pages_local(spark, 150).select("url", "text", "lang")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sentences_and_conllu(spark, verdicts):
    sents = sentence_table(verdicts)
    sents.cache()
    assert sents.filter("sent_text like '%\n%'").count() == 0  # remove_breaks applied
    assert sents.filter("sent_num = 1").count() == verdicts.filter(
        "keep and length(trim(clean_text)) > 0"
    ).count()
    sk = conllu_skeleton(sents)
    first = sk.filter("sent_num = 1").limit(1).collect()[0]
    assert first.conllu.startswith(f"# newdoc id = {first.doc_id}\n# sent_id = ")
    # zfill width: sent ids within a doc all share the same id width
    widths = (
        sk.withColumn("sid", F.regexp_extract("conllu", r"# sent_id = \S+_(\d+)", 1))
        .groupBy("doc_id")
        .agg(F.countDistinct(F.length("sid")).alias("w"))
        .filter("w > 1")
    )
    assert widths.count() == 0


def test_segmentation_matches_pure_function(spark, verdicts):
    row = (
        verdicts.filter("keep and length(clean_text) > 200")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    got = [
        r.sent_text
        for r in sentence_table(verdicts.filter(F.col("doc_id") == row.doc_id))
        .orderBy("sent_num")
        .collect()
    ]
    assert got == rules.segment_sentences(row.clean_text)


def test_validation_job(spark, verdicts):
    from puddin_spark.validation import validate_run
    from puddin_spark.synth import synth_pages_local

    pages = synth_pages_local(spark, N)
    summary, violations = validate_run(pages, verdicts)
    assert summary["ok"], summary
    assert violations.count() == 0

    # sabotage: drop one verdict row -> exactly one 'missing' violation
    broken = verdicts.filter("excl_type is null or excl_type != 'wiki'")
    s2, _ = validate_run(pages, broken)
    assert not s2["ok"] and s2["by_type"].get("missing", 0) > 0


def test_validation_known_fail_allowlist(spark, verdicts):
    """validate_data_group.py:381-419 parity: violations fed back as a
    known_fail allowlist stop alarming on rerun — flagged, counted apart,
    excluded from `ok`."""
    from puddin_spark.validation import validate_run
    from puddin_spark.synth import synth_pages_local

    pages = synth_pages_local(spark, N)
    broken = verdicts.filter("excl_type is null or excl_type != 'wiki'")
    s1, v1 = validate_run(pages, broken)
    assert not s1["ok"] and s1["n_violations"] > 0

    # triage: accept the current violations, rerun -> 0 fresh, ok again
    allow = v1.select("url", "violation")
    s2, v2 = validate_run(pages, broken, known_fail=allow)
    assert s2["ok"] and s2["n_violations"] == 0
    assert s2["n_known_fail"] == s1["n_violations"]
    assert v2.filter("not known_fail").count() == 0

    # a NEW violation still alarms through the allowlist
    worse = broken.filter("excl_type is null or excl_type != 'json'")
    s3, _ = validate_run(pages, worse, known_fail=allow)
    assert not s3["ok"] and s3["by_type"].get("missing", 0) > 0
    assert s3["n_known_fail"] == s1["n_violations"]


def test_validation_sees_keep_first(spark, verdicts, monkeypatch):
    """duplicate_body: with quality_pipeline's loser anti-join removed,
    every copy of a duplicated body gets a verdict row, and validate_run in
    the CLI's mode (dedup=False, digest_aware=True), which has no winner
    check, reports it; the intact pipeline's verdicts validate."""
    from puddin_spark import pipeline
    from puddin_spark.validation import validate_run

    pages = synth_pages_local(spark, N)
    summary, _ = validate_run(pages, verdicts, dedup=False, digest_aware=True)
    assert summary["ok"], summary

    class NoLosers:
        """pipeline.F whose broadcast, without a blocklist only the loser
        url set's, yields no rows: the anti-join then removes nothing."""

        def __getattr__(self, name):
            return getattr(F, name)

        @staticmethod
        def broadcast(df):
            return df.limit(0)

    monkeypatch.setattr(pipeline, "F", NoLosers())
    broken = quality_pipeline(pages)
    monkeypatch.undo()
    summary, _ = validate_run(pages, broken, dedup=False, digest_aware=True)
    assert not summary["ok"], summary
    assert set(summary["by_type"]) == {"duplicate_body"}, summary


def test_giant_document_skew(spark):
    """A multi-MB document flows through the Arrow UDF stage without
    stalling the run (north-rule skew case; Arrow batches are row-capped)."""
    from puddin_spark.synth import synth_pages_local

    pages = synth_pages_local(spark, 150, giant_every=13)
    giants = pages.filter("length(text) > 100000")
    assert giants.count() > 0
    out = quality_pipeline(pages, num_partitions=4)
    big = out.join(
        giants.select("url"), "url", "left_semi"
    ).collect()
    assert len(big) > 0
    for r in big:
        assert r.keep and len(r.clean_text) > 100000


def test_lineage_timing_columns(spark):
    """Timing parity with the reference slice-info (started_at/finished_at/
    parsing_time): with_timing stamps ride the UDF pass; per-partition
    durations are non-negative and bounded by the run's wall clock; the
    untimed path keeps the identical schema with null timing."""
    import time

    pages = synth_pages_local(spark, 300)
    t0 = time.time()
    v = quality_pipeline(pages, num_partitions=4, with_timing=True)
    lin = lineage_table(v, num_partitions=8).collect()
    elapsed = (time.time() - t0) + 1.0
    assert lin
    for r in lin:
        assert r.started_at is not None and r.finished_at is not None
        assert r.finished_at >= r.started_at
        assert r.duration_s is not None and 0 <= r.duration_s <= elapsed
    timed_schema = [f.name for f in lineage_table(v, num_partitions=8).schema.fields]
    untimed = lineage_table(v.drop("proc_ts"), num_partitions=8)
    assert [f.name for f in untimed.schema.fields] == timed_schema
    row = untimed.limit(1).collect()[0]
    assert row.started_at is None and row.duration_s is None
    assert row.finished_at is not None


def test_committed_lineage_carries_timing(spark, tmp_path):
    from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline

    store = SnapshotStore(tmp_path / "v")
    run_resumable_pipeline(
        spark, synth_pages_local(spark, 100), store, num_partitions=2
    )
    lin = store.read_lineage(spark).collect()
    assert lin
    assert all(r.duration_s is not None and r.duration_s >= 0 for r in lin)
    assert all(r.started_at <= r.finished_at for r in lin)
    # the published verdict schema is unchanged — no instrumentation column
    assert "proc_ts" not in store.read(spark).columns


def test_html_fallback_recovers_wet_missing_rows(spark):
    """Rows with empty text + populated html join the corpus only under
    with_html_fallback, with the extracted text flowing through the same
    scrub/classify cascade (operators/html.py stays JVM-side)."""
    from puddin_spark.operators.html import with_html_fallback

    pages = synth_pages_local(spark, 150, include_fixtures=False, htmlonly_every=13)
    wet_missing = pages.filter("text = '' and html is not null")
    n_missing = wet_missing.count()
    assert n_missing > 0

    off = quality_pipeline(pages, num_partitions=4)
    on = quality_pipeline(with_html_fallback(pages), num_partitions=4)
    urls = [r.url for r in wet_missing.select("url").collect()]

    got_off = off.filter(F.col("url").isin(urls)).collect()
    # without the fallback the empty docs survive to the classifier and are
    # dropped (never kept with content)
    assert all((not r.keep) or not r.clean_text for r in got_off)

    got_on = {r.url: r for r in on.filter(F.col("url").isin(urls)).collect()}
    assert len(got_on) == n_missing
    for r in got_on.values():
        assert r.keep and r.clean_text and "<" not in r.clean_text
    # rows that had WET text are byte-identical between the two modes
    rest_off = {r.url: r.clean_text for r in off.filter(~F.col("url").isin(urls)).collect()}
    rest_on = {r.url: r.clean_text for r in on.filter(~F.col("url").isin(urls)).collect()}
    assert rest_off == rest_on


def test_apply_quality_gate_composes_with_verdicts(spark, verdicts):
    """Model-tier quality gate after the rule battery: only previously-kept
    docs can flip (to excl_type='low_quality', clean_text nulled); dropped
    docs and the verdict schema contract are untouched."""
    from puddin_spark.operators.textstats import apply_quality_gate

    gated = apply_quality_gate(verdicts, min_score=0.701)
    assert gated.columns == verdicts.columns
    flipped = gated.filter("excl_type = 'low_quality'")
    n_flipped = flipped.count()
    assert n_flipped > 0  # threshold sits inside the kept-score range
    assert gated.filter("keep").count() > 0  # ...and spares the top half
    assert flipped.filter("keep or clean_text is not null").count() == 0
    # every flipped doc was previously kept
    prev = verdicts.select("doc_id", F.col("keep").alias("was_keep"))
    assert (
        flipped.join(prev, "doc_id").filter("not was_keep").count() == 0
    )
    # originally-dropped docs are byte-identical rows
    a = verdicts.filter("not keep")
    b = gated.join(a.select("doc_id"), "doc_id", "left_semi")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # no shuffle, no Python in the gate itself
    from puddin_spark.plans import executed_plan

    plan_tail = executed_plan(
        apply_quality_gate(
            verdicts.localCheckpoint(eager=False), min_score=0.701
        )
    )
    assert "Exchange" not in plan_tail
    assert "ArrowEvalPython" not in plan_tail and "BatchEvalPython" not in plan_tail


def test_blocked_domains_become_verdict_rows(spark):
    """Domain blocklisting records excl_type='blocked_domain' verdicts
    instead of silently removing rows: completeness + validation hold, and
    unblocked verdicts are byte-identical to a blocklist-free run."""
    from puddin_spark.validation import validate_run

    pages = synth_pages_local(spark, 200).withColumn(
        "url",
        F.concat(
            F.lit("https://site"),
            (F.crc32(F.col("url")) % 5).cast("string"),
            F.lit(".com/p/"),
            F.sha2("url", 256),
        ),
    ).cache()
    blocked = spark.createDataFrame([("site2.com",)], "domain string")
    v = quality_pipeline(pages, num_partitions=4, blocked_domains=blocked).cache()

    blk = v.filter("excl_type = 'blocked_domain'")
    n_blk = blk.count()
    assert n_blk > 0
    assert blk.filter("keep or clean_text is not null").count() == 0
    assert (
        v.filter("url like 'https://site2.com/%' and excl_type != 'blocked_domain'").count()
        == 0
    )
    # unblocked rows are identical to a run without any blocklist
    plain = quality_pipeline(pages, num_partitions=4)
    a = v.filter("excl_type is null or excl_type != 'blocked_domain'")
    b = plain.join(a.select("doc_id"), "doc_id", "left_semi")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # completeness: blocked rows still count as covered
    summary, _ = validate_run(pages, v)
    assert summary["ok"], summary


def test_blocked_copy_never_shadows_unblocked_twin(spark):
    """A blocked-domain copy with the EARLIEST warc_ts must not win the
    exact-dedup window: the unblocked twin gets the verdict row, so content
    whose earliest copy sat on a blocked domain is not silently lost."""
    rows = [
        # blocked copy is strictly earlier — would win a (warc_ts, url) order
        ("https://site2.com/dup", "2020-01-01 00:00:00", "shared twin body words here"),
        ("https://ok.com/dup", "2021-06-01 00:00:00", "shared twin body words here"),
        ("https://ok.com/solo", "2021-06-02 00:00:00", "unique solo body words here"),
    ]
    pages = spark.createDataFrame(
        [(u, ts, None, t, "en") for u, ts, t in rows],
        "url string, warc_ts string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    blocked = spark.createDataFrame([("site2.com",)], "domain string")
    for parts in (None, 4):  # num_partitions has no effect; both must hold
        v = quality_pipeline(pages, num_partitions=parts, blocked_domains=blocked)
        got = {r["url"]: r for r in v.collect()}
        assert "https://ok.com/dup" in got, "unblocked twin lost its verdict row"
        assert got["https://ok.com/dup"]["excl_type"] != "blocked_domain"
        # the blocked copy dropped as the dedup loser (no verdict row)
        assert "https://site2.com/dup" not in got


def test_apply_toxicity_gate_composes_with_verdicts(spark):
    """Toxicity gate after the rule battery: kept docs whose toxic-token
    ratio exceeds the threshold flip to excl_type='toxic' (clean_text
    nulled); clean docs and previously-dropped docs are untouched; the
    gate itself is a pure codegen projection."""
    from puddin_spark.operators.textstats import apply_toxicity_gate
    from puddin_spark.plans import executed_plan

    pages = synth_pages_local(spark, 60, include_fixtures=False)
    # inject a toxic tail into a deterministic subset of raw texts
    pages = pages.withColumn(
        "text",
        F.when(
            F.crc32("url") % 5 == 0,
            F.concat(F.col("text"), F.lit(" damn hell crap damn hell")),
        ).otherwise(F.col("text")),
    )
    verdicts = quality_pipeline(pages, num_partitions=4).cache()
    gated = apply_toxicity_gate(verdicts, max_ratio=0.0)
    assert gated.columns == verdicts.columns
    flipped = gated.filter("excl_type = 'toxic'")
    assert flipped.count() > 0
    assert gated.filter("keep").count() > 0
    assert flipped.filter("keep or clean_text is not null").count() == 0
    # every flipped doc was previously kept and actually carries the tail
    prev = verdicts.select(
        "doc_id", F.col("keep").alias("was_keep"), F.col("clean_text").alias("ct")
    )
    j = flipped.join(prev, "doc_id")
    assert j.filter("not was_keep").count() == 0
    assert j.filter("ct not like '% damn hell crap damn hell'").count() == 0
    # originally-dropped docs are byte-identical rows
    a = verdicts.filter("not keep")
    b = gated.join(a.select("doc_id"), "doc_id", "left_semi")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    plan_tail = executed_plan(gated).split("InMemoryTableScan")[0]
    assert "Exchange" not in plan_tail
    assert "EvalPython" not in plan_tail


def test_toxicity_lexicon_metacharacters_safe(spark, monkeypatch):
    """The toxicity lexicon is swap-per-policy: a swapped word carrying a
    regex metacharacter or a quote must match LITERALLY, not break (or
    inject into) the expression (ADVICE r4 — the old F.expr splice made a
    single quote an injection). toxicity_pattern re.escapes each word and
    the scorer passes it via the column form, never a SQL literal."""
    from puddin_spark import rules
    from puddin_spark.operators import textstats

    monkeypatch.setattr(rules, "TOXICITY_WORDS", ("don't", "a.b", "x(y"))
    df = spark.createDataFrame(
        [
            ("d1", "please don't say a.b or axb here"),
            ("d2", "nothing to see"),
            ("d3", "literal x(y appears once'); drop table docs; --"),
        ],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: r.tox_hits
        for r in textstats.toxicity_columns(df, "text").collect()
    }
    # a.b matches only literally (axb does NOT), quotes never escape the
    # pattern, and the paren word compiles instead of breaking the regex
    assert got == {"d1": 2, "d2": 0, "d3": 1}


def test_gopher_flag_flips_failing_kept_docs(spark, tmp_path):
    """run_resumable_pipeline(gates=[apply_gopher_gate]): the committed
    verdicts equal the ungated run with textstats.gopher_columns applied
    to its kept set — failing docs flip to excl_type='gopher' with
    clean_text nulled, everything else is untouched, completeness holds."""
    from puddin_spark.operators.textstats import apply_gopher_gate, gopher_columns
    from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline

    pages = synth_pages_local(spark, 80).cache()
    a_store = SnapshotStore(tmp_path / "plain")
    b_store = SnapshotStore(tmp_path / "gophered")
    run_resumable_pipeline(spark, pages, a_store, num_partitions=2)
    run_resumable_pipeline(
        spark, pages, b_store, num_partitions=2,
        gates=[partial(apply_gopher_gate, min_words=10)],
    )
    va = a_store.read(spark)
    vb = b_store.read(spark)
    assert va.count() == vb.count()  # completeness: same url universe
    bad = {
        r.doc_id
        for r in gopher_columns(
            va.filter("keep"), "clean_text", min_words=10
        ).filter("not gopher_keep").collect()
    }
    assert bad, "synthetic corpus must exercise at least one gopher rule"
    assert va.filter("keep").count() > len(bad), "and must not drop everything"
    flipped = {r.doc_id: r for r in vb.filter("excl_type = 'gopher'").collect()}
    assert set(flipped) == bad
    assert all(r.keep is False and r.clean_text is None for r in flipped.values())
    # non-flipped rows are byte-identical between the two runs
    cols = [c for c in va.columns if c not in ("started_at", "finished_at", "duration_s")]
    ja = {r.doc_id: r for r in va.select(*cols).collect() if r.doc_id not in bad}
    jb = {r.doc_id: r for r in vb.select(*cols).collect() if r.doc_id not in bad}
    assert ja == jb


def test_dedup_spans_flag_flips_batch_local_span_twins(spark, tmp_path):
    """run_resumable_pipeline(gates=[apply_repeated_span_gate]): kept
    docs sharing a window-token span flip to excl_type='dup_spans'
    (max_flagged=0 drops all members — keep-one salvage is
    trim_repeated_spans' job); docs without shared spans are untouched;
    completeness holds. Span twins are injected as prefix-shifted copies
    (different sha, so they survive exact dedup; every original span
    present at shifted positions)."""
    from pyspark.sql import functions as F

    from puddin_spark.operators.dedup import apply_repeated_span_gate
    from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline

    base = synth_pages_local(spark, 40)
    twins = (
        base.where("cast(substr(url, -2) as int) % 10 = 1")
        .withColumn("url", F.concat(F.col("url"), F.lit("-twin")))
        .withColumn("text", F.concat(F.lit("zz qq "), F.col("text")))
    )
    pages = base.unionByName(twins).cache()
    store = SnapshotStore(tmp_path / "v")
    run_resumable_pipeline(
        spark, pages, store, num_partitions=2,
        gates=[partial(apply_repeated_span_gate, window=8)],
    )
    v = store.read(spark)
    plain_store = SnapshotStore(tmp_path / "plain")
    run_resumable_pipeline(spark, pages, plain_store, num_partitions=2)
    vgate = plain_store.read(spark)
    # same verdict universe as the gate-less run over the same pages
    # (exact-text dup urls collapse to one verdict in both)
    assert v.count() == vgate.count()
    flipped = v.filter("excl_type = 'dup_spans'")
    n_flipped = flipped.count()
    # every surviving twin PAIR flips (both members; some twins fail the
    # rule battery before the span gate, so bound rather than equate)
    assert 0 < n_flipped < v.count()
    assert n_flipped % 2 == 0
    assert flipped.filter("keep or clean_text is not null").count() == 0
    # docs without injected twins keep their plain-run verdicts
    vp = vgate
    untouched = v.where("url not like '%-twin'").where(
        "excl_type is distinct from 'dup_spans'"
    )
    joined = untouched.alias("a").join(
        vp.alias("b"), "url"
    ).where("a.keep is distinct from b.keep").count()
    assert joined == 0


def test_fix_mojibake_flag_restores_clean_run_verdicts(spark, tmp_path):
    """run_resumable_pipeline(fix_mojibake=True) over a corpus whose text
    was mis-decoded as cp1252 commits byte-identical verdicts (keeps,
    clean_text, text_sha) to the plain run over the uncorrupted corpus —
    the repair happens before hashing and scrubbing, so downstream is
    indistinguishable from a clean crawl."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline

    # ASCII word-soup only: fixture docs carry cp1252-undefined bytes,
    # and the translit-sentinel cohort (U+E000) corrupts to sequences
    # outside the repair table (correctly — that is not real mojibake);
    # inject accents SQL-side, then corrupt with the real mis-decode
    base = synth_pages_local(spark, 50, include_fixtures=False).where(
        r"text not rlike '[^\\x00-\\x7F]'"
    )
    accented = base.withColumn(
        "text",
        F.expr("replace(replace(text, 'the', 'thé'), 'town', 'tôwn“')"),
    ).cache()

    @F.udf(T.StringType())
    def cp1252(s):
        return None if s is None else s.encode("utf-8").decode("cp1252")

    corrupted = accented.withColumn("text", cp1252("text"))
    a_store = SnapshotStore(tmp_path / "clean")
    b_store = SnapshotStore(tmp_path / "fixed")
    run_resumable_pipeline(spark, accented, a_store, num_partitions=2)
    run_resumable_pipeline(
        spark, corrupted, b_store, num_partitions=2, fix_mojibake=True
    )
    va = {r.url: r for r in a_store.read(spark).collect()}
    vb = {r.url: r for r in b_store.read(spark).collect()}
    assert set(va) == set(vb) and len(va) > 0
    for u in va:
        assert va[u].keep == vb[u].keep, u
        assert va[u].clean_text == vb[u].clean_text, u
        assert va[u].text_sha == vb[u].text_sha, u
    # and the corrupted run WITHOUT the flag diverges (the corruption is real)
    c_store = SnapshotStore(tmp_path / "broken")
    run_resumable_pipeline(spark, corrupted, c_store, num_partitions=2)
    vc = {r.url: r for r in c_store.read(spark).collect()}
    assert any(vc[u].text_sha != va[u].text_sha for u in va if u in vc)
