"""Physical-plan guardrails: the optimizations the scale posture depends on
must actually appear in the executed plan (a scan that reads all columns for
a 2-column projection is wrong even if results match)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from puddin_spark.plans import executed_plan as _plan
from puddin_spark.queries import ALL_QUERIES as SPARK_QUERIES  # plan pins cover driver + local gates

SF = "/root/testdata/sf0.01"


def test_langid_gate_pushdown_and_pruning(spark):
    plan = _plan(SPARK_QUERIES["langid_gate"](spark, SF))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: text (the wide column) never leaves the scan
    assert "ReadSchema: struct<lang:string,source:string,n_chars:bigint>" in plan


def test_tpch_q3_broadcasts_customer(spark):
    plan = _plan(SPARK_QUERIES["tpch_q3"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_ann_broadcasts_query_side(spark):
    plan = _plan(SPARK_QUERIES["ann_cosine_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_quality_scores_stays_in_codegen(spark):
    """Text-stats columns are built-ins only — no Python evaluation node."""
    plan = _plan(SPARK_QUERIES["quality_scores"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(1)" in plan  # whole-stage-codegen stage marker


def test_pipeline_prunes_html_before_udf(spark):
    """The binary html column must never be shipped to the Python workers."""
    plan = _plan(SPARK_QUERIES["pipeline_verdicts"](spark, SF))
    assert "ArrowEvalPython" in plan  # the one deliberate Python island
    # the UDF's input projection carries url/warc_ts/lang/text, not html
    import re

    m = re.search(r"ArrowEvalPython.*", plan)
    assert m and "html" not in m.group(0)


def test_exact_dedup_shuffles_digest_not_body(spark):
    plan = _plan(SPARK_QUERIES["dedup_exact_first"](spark, SF))
    assert "sha2" in plan and "hashpartitioning" in plan


def test_dedup_first_default_partitions_on_digest(spark, tmp_path):
    """dedup_first's default keep-first window must hash-partition on the
    sha2(text) projection, not the raw text column — at 10^12 docs the
    difference is shuffling 32-byte digests vs multi-KB bodies."""
    import re

    from puddin_spark.pipeline import dedup_first
    from puddin_spark.synth import synth_pages_local

    synth_pages_local(spark, 50).write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    plan = _plan(dedup_first(pages))
    # hot-digest skew guard: row_number()==1 must plan a map-side
    # WindowGroupLimit pass, so a digest duplicated across every input
    # partition forwards at most one candidate row per partition
    assert re.search(r"WindowGroupLimit .*Partial", plan), plan[:2000]
    m = re.search(r"Exchange hashpartitioning\((\w+)#\d+", plan)
    assert m, plan[:1500]
    key = m.group(1)
    if key != "text":
        # projected window expression: its definition must be the digest
        assert re.search(rf"sha2\([^)]*text#\d+[^)]*\), 256\) AS {key}#", plan), plan[:2500]
    else:
        raise AssertionError("dedup window shuffles the raw text column:\n" + plan[:1500])


def test_slice_assignment_no_single_partition_sort(spark):
    """Global id assignment must be the two-phase partition-offset scheme:
    no Exchange SinglePartition (the 100-TB straggler wall) anywhere in the
    plan — ranks come from rangepartitioning + per-partition windows."""
    plan = _plan(SPARK_QUERIES["slice_assignment"](spark, SF))
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_reference_ids_no_single_partition_sort(spark):
    from puddin_spark.reference_ids import add_raw_ids

    d = spark.range(200).selectExpr("concat('u', lpad(cast(id as string), 4, '0')) as url")
    plan = _plan(add_raw_ids(d, label="test"))
    assert "SinglePartition" not in plan


@pytest.mark.parametrize("case", ["num_partitions", "no_keywords", "blocked_domains"])
def test_pipeline_body_never_shuffles(spark, case):
    """r6 dedup shape (guide section 8): the keep-first decision runs over a
    narrow (digest, warc_ts, url) projection, losers broadcast into a
    left-anti join, and the document bodies NEVER cross an exchange — the
    only hash exchange in the plan is the small decision shuffle, and the
    Python UDF runs pre-shuffle on the scan partitions. Every call shape
    takes this one path."""
    import re

    from puddin_spark.pipeline import quality_pipeline
    from puddin_spark.synth import synth_pages_local

    kwargs = {
        "num_partitions": dict(num_partitions=4),
        "no_keywords": {},
        "blocked_domains": dict(
            blocked_domains=spark.createDataFrame([("site2.com",)], "domain string")
        ),
    }[case]
    v = quality_pipeline(synth_pages_local(spark, 100), **kwargs)
    plan = _plan(v)
    # dedup is a broadcast anti-join of the loser keys
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan[:2000]
    # exactly one hash exchange: the narrow decision window's
    hash_exchanges = re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
    assert len(hash_exchanges) == 1, hash_exchanges
    # ... and it carries the digest + order keys, never the text column
    assert "_dig" in hash_exchanges[0], hash_exchanges[0]
    assert "text#" not in hash_exchanges[0], hash_exchanges[0]


def _exchange_outputs(df) -> list[tuple[str, list[str]]]:
    """(node name, output column names) of every exchange in df's
    executed plan, including the plans of the cached frames it reads."""
    found = []

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node):
        name = node.nodeName()
        if name.endswith("Exchange"):
            found.append((name, [a.name() for a in seq(node.output())]))
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        if name == "InMemoryTableScan":
            walk(node.relation().cachedPlan())
        for child in seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_resume_body_never_shuffles(spark, tmp_path, monkeypatch):
    """The resume anti-joins run on a narrow (url, text_sha) frame and the
    body pass semi-joins the broadcast new urls: with broadcast joins
    disabled (the regime of a large committed store), a second batch's
    verdict plan shuffles narrow rows only — no exchange carries `text`."""
    from puddin_spark import pipeline
    from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline
    from puddin_spark.synth import synth_pages_local

    pages = synth_pages_local(spark, 120).cache()
    store = SnapshotStore(tmp_path / "verdicts")
    run_resumable_pipeline(spark, pages.limit(60), store, num_partitions=2)

    verdicts = []
    real = pipeline.quality_pipeline

    def capture(*a, **kw):
        verdicts.append(real(*a, **kw))
        return verdicts[-1]

    monkeypatch.setattr(pipeline, "quality_pipeline", capture)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        snap, n = run_resumable_pipeline(spark, pages, store, num_partitions=2)
        exchanges = _exchange_outputs(verdicts[0])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert snap == 1 and n > 0
    # the committed-side anti-joins shuffle; the body pass broadcasts
    assert any(name == "Exchange" for name, _ in exchanges), exchanges
    assert not [e for e in exchanges if "text" in e[1]], exchanges


def test_embedding_near_dup_is_bucket_join_not_cartesian(spark):
    """Near-dup candidates must come from the SRP-bucket equi-join — a
    cartesian/nested-loop pair generation would be the 10^12-row disaster."""
    plan = _plan(SPARK_QUERIES["embedding_near_dup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assignment_is_projection_not_join(spark):
    """Coarse quantization (nearest centroid) runs as an inlined-literal
    projection: the ONLY joins in the plan are the probe equi-join on the
    cell key — no corpus-vs-centroid join survives."""
    plan = _plan(SPARK_QUERIES["ann_ivf_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # join count: exactly the probe equi-join (any hash-join flavor)
    n_joins = plan.count("Join")
    assert n_joins <= 2, plan[:2000]


def test_media_frames_prunes_to_text(spark):
    """The frame gate fabricates media from text: the scan must read only
    (doc_id, text) — no other document columns reach the Python stage."""
    plan = _plan(SPARK_QUERIES["media_frames"](spark, SF))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_tpch_q6_full_pushdown(spark):
    """All three predicates reach the parquet reader; only the 4 needed
    columns are read (of 11)."""
    import re

    plan = _plan(SPARK_QUERIES["tpch_q6"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in plan
    scan = re.search(r"FileScan parquet \[([^\]]*)\]", plan).group(1)
    cols = {c.split("#")[0] for c in scan.split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Co-located join via bucketing: both sides written with the same
    bucket spec join with ZERO Exchange (the buy-the-shuffle-once layout);
    the unbucketed control plan shuffles both sides."""
    from puddin_spark.sinks import write_bucketed

    spark.sql(f"create database if not exists bktest location '{tmp_path}'")
    docs = spark.range(0, 2000).selectExpr(
        "cast(id as string) as doc_id", "id % 7 as score"
    )
    stats = spark.range(0, 2000).selectExpr(
        "cast(id as string) as doc_id", "id % 13 as n_tokens"
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(docs, "bktest.docs", ["doc_id"], num_buckets=4,
                       sort_cols=["doc_id"])
        write_bucketed(stats, "bktest.stats", ["doc_id"], num_buckets=4,
                       sort_cols=["doc_id"])
        joined = spark.table("bktest.docs").join(spark.table("bktest.stats"), "doc_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan[:1500]
        assert joined.count() == 2000

        control = docs.join(stats, "doc_id")
        assert "Exchange" in _plan(control)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("drop database bktest cascade")


def test_aqe_splits_skewed_join_partition(spark):
    """The scale posture claims AQE skew-join handles hot keys: prove it —
    a 95%-one-key join, with thresholds scaled down to test size, must
    execute as SortMergeJoin(skew=true) with an AQEShuffleRead skewed
    reader (the hot partition split across tasks at runtime)."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 120000).selectExpr(
            "case when id % 20 < 19 then 0 else id end as k",
            "repeat('x', 120) as pad",
        )
        right = spark.range(0, 1000).selectExpr("id as k", "id * 2 as v")
        joined = left.join(right, "k")
        rows = joined.collect()  # executes THIS df's QE so the final
        assert len(rows) > 100000  # adaptive plan is inspectable below
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1200]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_keepdrop_confusion_broadcasts_labels(spark):
    """The F1 metric must stream the verdict corpus through a broadcast
    join — a labelled holdout is small; shuffling the full corpus on url
    to score it would be wrong at 10^12 docs."""
    from puddin_spark.metrics import keepdrop_confusion
    from puddin_spark.pipeline import quality_pipeline
    from puddin_spark.synth import synth_pages_local

    pred = quality_pipeline(synth_pages_local(spark, 80), num_partitions=4)
    truth = spark.createDataFrame(
        [(f"u{i}", i % 2 == 0) for i in range(10)],
        schema="url string, keep boolean",
    )
    plan = _plan(keepdrop_confusion(pred, truth))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_committed_flip_plan_has_no_pair_materialization(spark):
    """committed_srp_flip_ids must stay the per-bucket matmul shape: one
    grouped-map pandas stage over (band, bucket), NO window/rank over
    enumerated (new, committed) pair rows (the rejected rank-and-probe
    design — BASELINE.md round-5 — whose candidate enumeration grew
    linearly with committed bucket occupancy)."""
    from pyspark.sql import functions as F

    from puddin_spark.operators.similarity import committed_srp_flip_ids

    idx = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "id string, v array<double>"
    )
    bands = spark.createDataFrame(
        [("a", 0, 5), ("b", 0, 5)], "id string, band int, bucket long"
    )
    out = committed_srp_flip_ids(
        idx.filter("id = 'a'"), bands.filter("id = 'a'"),
        idx.filter("id = 'b'"), bands.filter("id = 'b'"),
        min_cos=0.99,
    )
    # localCheckpointed result: inspect the PRE-checkpoint logical plan by
    # rebuilding the same expression without materializing
    plan = (
        bands.filter("id = 'a'")
        .join(idx.filter("id = 'a'"), "id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert out.count() == 0  # orthogonal vectors: no flip
    # the real pin: the function's own plan, captured via explain on a
    # fresh (non-checkpointed) equivalent expression
    # patch the CONCRETE class (pyspark 4: instances are classic.DataFrame;
    # pyspark.sql.DataFrame is the abstract base and never dispatches)
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    real_ckpt = ClassicDF.localCheckpoint
    captured = {}
    try:
        def _capture(self, eager=True):
            captured["plan"] = self._jdf.queryExecution().executedPlan().toString()
            return real_ckpt(self, eager)

        ClassicDF.localCheckpoint = _capture
        committed_srp_flip_ids(
            idx.filter("id = 'a'"), bands.filter("id = 'a'"),
            idx.filter("id = 'b'"), bands.filter("id = 'b'"),
            min_cos=0.99,
        )
    finally:
        ClassicDF.localCheckpoint = real_ckpt
    p = captured["plan"]
    assert "FlatMapGroupsInPandas" in p
    assert "Window" not in p and "row_number" not in p
