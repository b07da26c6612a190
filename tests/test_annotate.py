"""Annotator-stage tests: rule cascade, swap seam, 10-column rendering."""
from __future__ import annotations

from puddin_spark.annotate import RuleAnnotator, get_annotator, swap_annotator


def test_upos_cascade():
    a = RuleAnnotator()
    assert a.upos(".") == "PUNCT"
    assert a.upos("3,14") == "NUM"
    assert a.upos("the") == "DET"
    assert a.upos("they") == "PRON"
    assert a.upos("with") == "ADP"
    assert a.upos("and") == "CCONJ"
    assert a.upos("would") == "AUX"
    assert a.upos("quickly") == "ADV"
    assert a.upos("running") == "VERB"
    assert a.upos("walked") == "VERB"
    assert a.upos("joyful") == "ADJ"
    assert a.upos("house") == "NOUN"
    # length guards: short words fall through the suffix rules
    assert a.upos("fly") == "NOUN"  # len 3, no ADV
    assert a.upos("red") == "NOUN"  # len 3, no VERB


def test_lemma_rules():
    a = RuleAnnotator()
    assert a.lemma("running", "VERB") == "runn"
    assert a.lemma("walked", "VERB") == "walk"
    assert a.lemma("houses", "NOUN") == "house"
    assert a.lemma("glass", "NOUN") == "glass"  # no 'ss' strip
    assert a.lemma("The", "DET") == "the"


def test_head_scheme_first_verb_root():
    a = RuleAnnotator()
    rows = a.annotate(["the", "dog", "walked", "quickly", "."])
    by_ix = {r[0]: r for r in rows}
    assert by_ix[3][5] == "root" and by_ix[3][4] == 0  # walked = root
    assert by_ix[1] == (1, "the", "the", "DET", 2, "det")  # det -> next noun
    assert by_ix[2] == (2, "dog", "dog", "NOUN", 3, "obl")
    assert by_ix[5] == (5, ".", ".", "PUNCT", 3, "punct")
    # no noun follows -> nominal attachers fall back to the root
    rows = a.annotate(["dog", "walked", "the"])
    assert rows[2] == (3, "the", "the", "DET", 2, "det")


def test_root_fallbacks():
    a = RuleAnnotator()
    # no verb, AUX + content predicate -> UD copula: predicate is the
    # root, the AUX attaches to it as `cop`
    rows = a.annotate(["it", "is", "blue"])
    assert rows[2][4:] == (0, "root")
    assert rows[1][4:] == (3, "cop")
    assert rows[0][4:] == (3, "nsubj")
    # no verb, AUX with nothing predicable after it -> the AUX roots
    rows = a.annotate(["it", "is", "."])
    assert rows[1][4:] == (0, "root")
    # no verb/aux -> first non-punct
    rows = a.annotate([".", "dog"])
    assert rows[1][4:] == (0, "root") and rows[0][4:] == (2, "punct")
    # all punct -> token 1
    rows = a.annotate(["!", "?"])
    assert rows[0][4:] == (0, "root")


def test_coordination_heads():
    a = RuleAnnotator()
    # "cats and dogs ..." — cc attaches FORWARD to the following conjunct,
    # the second conjunct attaches BACK to the first as conj
    rows = a.annotate(["cats", "and", "dogs", "walked"])
    by_ix = {r[0]: r for r in rows}
    assert by_ix[4][5] == "root"
    assert by_ix[2][4:] == (3, "cc")       # and -> dogs
    assert by_ix[3][4:] == (1, "conj")     # dogs -> cats
    assert by_ix[1][4:] == (4, "obl")      # cats -> root
    # a CCONJ with no following content token falls back to the root
    rows = a.annotate(["dogs", "walked", "and"])
    assert rows[2][4:] == (2, "cc")
    # noun-after-cconj with NO earlier noun keeps the default attachment
    rows = a.annotate(["and", "dogs", "walked"])
    assert rows[1][4:] == (3, "obl")


def test_swap_seam(spark):
    """Any object with annotate(tokens) plugs in process-wide (the Stanza
    drop-in contract) — driver-side check; executors re-init their own."""

    class Upper:
        def annotate(self, toks):
            return [(i + 1, t, t.upper(), "X", 0 if i == 0 else 1,
                     "root" if i == 0 else "dep") for i, t in enumerate(toks)]

    orig = get_annotator()
    try:
        swap_annotator(Upper())
        assert get_annotator().annotate(["ab"])[0][2] == "AB"
    finally:
        swap_annotator(orig)


def test_conllu_annotated_rendering(spark):
    from puddin_spark.pipeline import conllu_skeleton

    sents = spark.createDataFrame(
        [("d1", 1, "The dog walked home.")],
        "doc_id string, sent_num int, sent_text string",
    )
    out = conllu_skeleton(sents, annotated=True).collect()[0].conllu
    lines = out.splitlines()
    assert lines[0] == "# newdoc id = d1"
    toks = [l.split("\t") for l in lines[3:]]
    assert all(len(t) == 10 for t in toks)
    # 10 columns: ID FORM LEMMA UPOS XPOS FEATS HEAD DEPREL DEPS MISC
    walked = next(t for t in toks if t[1] == "walked")
    assert walked[2:4] == ["walk", "VERB"]
    assert walked[6:8] == ["0", "root"]
    the = next(t for t in toks if t[1] == "The")
    assert the[2:4] == ["the", "DET"] and the[7] == "det"
    assert all(t[4] == "_" and t[5] == "_" and t[8] == "_" and t[9] == "_" for t in toks)


def test_safe_udf_catches_annotator_errors(spark):
    """The F9 seam end-to-end on real workers: a poison annotator shipped in
    the UDF closure raises on one token; the safe UDF converts the raise to
    a per-sentence error string instead of failing the task."""
    from pyspark.sql import functions as F

    from puddin_spark.annotate import make_annotate_safe_udf

    class Poison:
        def annotate(self, toks):
            if "kaboom" in toks:
                raise RuntimeError("parser exploded")
            return [(i + 1, t, t, "NOUN", 0 if i == 0 else 1,
                     "root" if i == 0 else "obl") for i, t in enumerate(toks)]

    safe = make_annotate_safe_udf(Poison)
    df = spark.createDataFrame(
        [(["good", "tokens"],), (["a", "kaboom", "b"],)], "toks array<string>"
    )
    rows = df.select(safe("toks").alias("r")).collect()
    ok, bad = rows[0].r, rows[1].r
    assert ok.error is None and len(ok.anno) == 2
    assert bad.error == "RuntimeError: parser exploded" and bad.anno == []


def test_conllu_with_failures_doc_level(spark):
    """A doc with ANY failing sentence is dropped from the CoNLL-U output
    whole and reported once (the reference's per-document parse-fail drop,
    parse_pile.py:1374-1390)."""
    from puddin_spark.pipeline import conllu_with_failures

    class Poison:
        def annotate(self, toks):
            if "kaboom" in toks:
                raise RuntimeError("boom")
            return [(i + 1, t, t.lower(), "NOUN", 0 if i == 0 else 1,
                     "root" if i == 0 else "obl") for i, t in enumerate(toks)]

    sents = spark.createDataFrame(
        [("d1", 1, "fine text here."),
         ("d2", 1, "first sentence fine."),
         ("d2", 2, "then kaboom happens."),
         ("d3", 1, "also fine.")],
        "doc_id string, sent_num int, sent_text string",
    )
    sk, failures = conllu_with_failures(sents, annotate_factory=Poison)
    fr = failures.collect()
    assert [(r.doc_id, r.excl_type) for r in fr] == [("d2", "fail")]
    assert "RuntimeError" in fr[0].anno_error
    out = {r.doc_id for r in sk.select("doc_id").distinct().collect()}
    assert out == {"d1", "d3"}
    # surviving docs are fully annotated (10 columns, non-'_' UPOS)
    block = sk.filter("doc_id = 'd1'").collect()[0].conllu
    tok = block.splitlines()[3].split("\t")
    assert len(tok) == 10 and tok[3] == "NOUN"


def test_record_failures_flips_verdicts(spark, tmp_path):
    """Post-hoc F9 recording: keep->false / excl_type->'fail' lands as a
    base snapshot; row count stable, lineage refreshed."""
    from puddin_spark.snapshots import SnapshotStore, record_failures, run_resumable_pipeline
    from puddin_spark.synth import synth_pages_local

    store = SnapshotStore(tmp_path / "v")
    run_resumable_pipeline(spark, synth_pages_local(spark, 60), store, num_partitions=2)
    verdicts = store.read(spark)
    n_total = verdicts.count()
    victim = verdicts.filter("keep").select("doc_id").limit(1)
    victim_id = victim.collect()[0].doc_id

    snap = record_failures(spark, store, victim, num_partitions=2)
    assert snap == store.current_snapshot_id()

    after = store.read(spark)
    assert after.count() == n_total  # overwrite, not append
    row = after.filter(after.doc_id == victim_id).collect()[0]
    assert row.keep is False and row.excl_type == "fail"
    assert row.clean_text is None  # a dropped doc carries no clean text

    # lineage recomputed: fail appears in rule hit counts
    lin = store.read_lineage(spark)
    hits = {}
    for r in lin.collect():
        for k, v in r.rule_hit_counts.items():
            hits[k] = hits.get(k, 0) + v
    assert hits.get("fail") == 1

    # empty failure set is a no-op (-1, no new snapshot)
    empty = victim.filter("doc_id is null")
    assert record_failures(spark, store, empty, num_partitions=2) == -1
