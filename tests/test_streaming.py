"""Streaming ingestion: file-stream drops -> foreachBatch pipeline ->
snapshot store; replay-idempotent."""
from __future__ import annotations

from puddin_spark.snapshots import SnapshotStore
from puddin_spark.streaming import run_streaming_pipeline, stream_pages, windowed_page_counts
from puddin_spark.synth import gen_rows, SPARK_SCHEMA_DDL


def _drop_files(spark, tmp_path, batches):
    d = tmp_path / "drops"
    d.mkdir(exist_ok=True)
    for i, (lo, hi) in enumerate(batches):
        spark.createDataFrame(gen_rows(lo, hi), SPARK_SCHEMA_DDL).coalesce(1).write.mode(
            "append"
        ).parquet(str(d))
    return str(d)


def test_stream_drops_to_snapshots(spark, tmp_path):
    inp = _drop_files(spark, tmp_path, [(0, 120), (120, 240)])
    store = SnapshotStore(tmp_path / "store")
    q = run_streaming_pipeline(
        spark, inp, store, str(tmp_path / "ckpt"), num_partitions=4
    )
    q.awaitTermination(300)

    got = store.read(spark)
    assert got is not None
    n_first = got.count()
    assert n_first > 0
    assert got.select("url").distinct().count() == n_first

    # second stream run over the same dir + a new drop: only new docs commit
    _drop_files(spark, tmp_path, [(240, 300)])
    q2 = run_streaming_pipeline(
        spark, inp, store, str(tmp_path / "ckpt"), num_partitions=4
    )
    q2.awaitTermination(300)
    got2 = store.read(spark)
    assert got2.count() > n_first
    assert got2.select("url").distinct().count() == got2.count()

    # replay from scratch (fresh checkpoint) -> store unchanged (idempotent)
    n_before = got2.count()
    q3 = run_streaming_pipeline(
        spark, inp, store, str(tmp_path / "ckpt2"), num_partitions=4
    )
    q3.awaitTermination(300)
    assert store.read(spark).count() == n_before


def test_windowed_counts_plan(spark, tmp_path):
    inp = _drop_files(spark, tmp_path, [(0, 60)])
    agg = windowed_page_counts(stream_pages(spark, inp), "1 hour", "2 hours")
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("wpc")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # append mode emits only watermark-closed windows; the plan executing
    # with a watermark + window agg is the contract here
    assert spark.table("wpc").columns == ["start", "end", "lang", "n_pages"]


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch closures emit
    immediately; watermark-passed timeouts close open sessions; batch
    slicing does not change results (gap rule on event time only)."""
    import time as _time

    from puddin_spark.streaming import sessionize_stream

    d = tmp_path / "events"
    d.mkdir()
    drops = [
        # f1: u1 two events in one session; u2 one event
        [("u1", "2024-01-01 10:00:00"), ("u1", "2024-01-01 10:05:00"),
         ("u2", "2024-01-01 10:00:00")],
        # f2: u2 jumps past the gap -> its first session closes in-batch
        [("u2", "2024-01-01 13:00:00")],
        # f3: later event advances the watermark past u1's timeout
        [("u3", "2024-01-01 16:00:00")],
    ]
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, "user_id string, ts_s string").selectExpr(
            "user_id", "cast(ts_s as timestamp) as ts"
        ).coalesce(1).write.mode("append").parquet(str(d))
        _time.sleep(0.05)  # distinct mtimes -> deterministic file order

    events = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    sess = sessionize_stream(events, gap_minutes=30, late="10 minutes")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("sessions").collect()
    }
    assert ("u1", "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2) in got
    assert ("u2", "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1) in got
    # open sessions (u3; u2's 13:00) must NOT have been emitted prematurely
    assert not any(u == "u3" for u, *_ in got)


def test_sessionize_stream_late_event_bridges_gap(spark, tmp_path):
    """A late-but-admitted event that lands between two provisional
    sessions must merge them — a gap observed inside one micro-batch is not
    final until the watermark passes it (the batch-equivalence property)."""
    import time as _time

    from puddin_spark.streaming import sessionize_stream

    d = tmp_path / "events"
    d.mkdir()
    drops = [
        [("u1", "2024-01-01 10:00:00")],
        # 33 min later: a provisional gap (> 30 min) — NOT final yet
        [("u1", "2024-01-01 10:33:00")],
        # late event (>= watermark 10:23) bridges both provisional sessions
        [("u1", "2024-01-01 10:28:00")],
        # advance the watermark far past 10:33+gap so the merged session
        # becomes final and emits
        [("u2", "2024-01-01 14:00:00")],
    ]
    for rows in drops:
        spark.createDataFrame(rows, "user_id string, ts_s string").selectExpr(
            "user_id", "cast(ts_s as timestamp) as ts"
        ).coalesce(1).write.mode("append").parquet(str(d))
        _time.sleep(0.05)

    events = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    sess = sessionize_stream(events, gap_minutes=30, late="10 minutes")
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("sessions_late").collect()
    }
    # ONE merged session — not a split (10:00,10:00,1)+(10:28,10:33,2)
    assert ("u1", "2024-01-01 10:00:00", "2024-01-01 10:33:00", 3) in got
    assert not any(n == 1 and u == "u1" for u, _, _, n in got)


def test_streaming_near_dedup(spark, tmp_path):
    """Streaming ingestion with near_dedup: a later drop's fuzzy twin of an
    earlier micro-batch's doc is excluded as near_dup."""
    from pyspark.sql import functions as F

    from puddin_spark.synth import synth_pages_local

    pages = synth_pages_local(spark, 30).cache()
    d = tmp_path / "drops"
    d.mkdir()
    pages.coalesce(1).write.mode("append").parquet(str(d))
    store = SnapshotStore(tmp_path / "store")
    q = run_streaming_pipeline(
        spark, str(d), store, str(tmp_path / "ck"), num_partitions=2,
        near_dedup=True,
    )
    q.awaitTermination(300)

    src = store.read(spark).filter("keep").limit(1).collect()[0]
    twin = spark.createDataFrame(
        [("https://twin.example/s", src.clean_text + " extra tail words here")],
        "url string, text string",
    ).selectExpr(
        "url", "cast('2024-01-01' as timestamp) as warc_ts",
        "cast(null as binary) as html", "text", "'en' as lang",
    )
    twin.select(*pages.columns).coalesce(1).write.mode("append").parquet(str(d))
    q2 = run_streaming_pipeline(
        spark, str(d), store, str(tmp_path / "ck"), num_partitions=2,
        near_dedup=True,
    )
    q2.awaitTermination(300)
    row = store.read(spark).filter(F.col("url") == "https://twin.example/s").collect()[0]
    assert row.keep is False and row.excl_type == "near_dup"


def test_stream_html_fallback_commits_wet_missing(spark, tmp_path):
    """html_fallback flows through foreachBatch: WET-missing drops are
    extracted and committed as kept docs across micro-batches."""
    d = tmp_path / "drops"
    d.mkdir(exist_ok=True)
    pdf = gen_rows(61, 160, include_fixtures=False, htmlonly_every=11)
    spark.createDataFrame(pdf, SPARK_SCHEMA_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    n_html = int((pdf["text"] == "").sum())
    assert n_html >= 2

    store = SnapshotStore(tmp_path / "store")
    q = run_streaming_pipeline(
        spark, str(d), store, str(tmp_path / "ckpt"),
        num_partitions=2, html_fallback=True,
    )
    q.awaitTermination(300)
    got = store.read(spark)
    kept_html = got.filter("url like 'https://synth.example.org/h/%' and keep")
    assert kept_html.count() == n_html
    assert kept_html.filter("clean_text is null or clean_text = ''").count() == 0


def test_streaming_embedding_near_dedup(spark, tmp_path):
    """Streaming ingestion with embedding_near_dedup: a later drop's
    word-order-permuted twin of an earlier micro-batch's doc (same bag of
    words -> cosine exactly 1.0; invisible to sha and shingle dedup) is
    excluded as emb_near_dup through the SRP index sidecar. The first run
    passes NON-default srp_planes/srp_bands to pin that the streaming entry
    threads them through to the sidecar's persisted _meta.json (ADVICE r4:
    without the passthrough the first micro-batch silently froze the
    defaults for the store's lifetime); the second run omits them and must
    adopt the persisted config."""
    import json

    from pyspark.sql import functions as F

    from puddin_spark.synth import synth_pages_local

    pages = synth_pages_local(spark, 30).cache()
    d = tmp_path / "drops"
    d.mkdir()
    pages.coalesce(1).write.mode("append").parquet(str(d))
    store = SnapshotStore(tmp_path / "store")
    q = run_streaming_pipeline(
        spark, str(d), store, str(tmp_path / "ck"), num_partitions=2,
        embedding_near_dedup=True, srp_planes=8, srp_bands=4,
    )
    q.awaitTermination(300)
    meta = json.loads((store.base / "srp_index" / "_meta.json").read_text())
    assert meta == {"num_planes": 8, "num_bands": 4}

    src = store.read(spark).filter("keep").limit(1).collect()[0]
    twin = spark.createDataFrame(
        [("https://twin.example/es", " ".join(reversed(src.clean_text.split())))],
        "url string, text string",
    ).selectExpr(
        "url", "cast('2024-01-01' as timestamp) as warc_ts",
        "cast(null as binary) as html", "text", "'en' as lang",
    )
    twin.select(*pages.columns).coalesce(1).write.mode("append").parquet(str(d))
    q2 = run_streaming_pipeline(
        spark, str(d), store, str(tmp_path / "ck"), num_partitions=2,
        embedding_near_dedup=True,
    )
    q2.awaitTermination(300)
    row = store.read(spark).filter(
        F.col("url") == "https://twin.example/es"
    ).collect()[0]
    assert row.keep is False and row.excl_type == "emb_near_dup"


def test_streaming_ppl_gate(spark, tmp_path):
    """An apply_ppl_gate gate that reads the persisted LM when applied
    threads the CCNet perplexity gate into the streaming path: a drop containing OOV gibberish commits it as excl_type='ppl'
    while in-domain docs keep their plain-run verdicts."""
    import datetime as dt

    from pyspark.sql import functions as F

    from puddin_spark.operators.ngram_lm import apply_ppl_gate, train_ngram_lm
    from puddin_spark.snapshots import run_resumable_pipeline
    from puddin_spark.synth import synth_pages_local

    # target-domain LM from an ungated batch run's kept corpus
    pages = synth_pages_local(spark, 40).cache()
    probe = SnapshotStore(tmp_path / "probe")
    run_resumable_pipeline(spark, pages, probe, num_partitions=2)
    lm_dir = str(tmp_path / "lm")
    train_ngram_lm(
        probe.read(spark).filter("keep").select(F.col("clean_text").alias("text")),
        materialize=True,
    ).write.parquet(lm_dir)

    d = tmp_path / "drops"
    d.mkdir()
    gib = spark.createDataFrame(
        [
            (
                "https://synth.example.org/gib/0",
                dt.datetime(2024, 1, 1),
                b"",
                "zonk blip fargle wibble quorp snarfle dingle womble " * 6,
                "en",
            )
        ],
        SPARK_SCHEMA_DDL,
    )
    pages.unionByName(gib).coalesce(1).write.mode("append").parquet(str(d))

    store = SnapshotStore(tmp_path / "store")
    q = run_streaming_pipeline(
        spark, str(d), store, str(tmp_path / "ckpt"), num_partitions=2,
        gates=[lambda v: apply_ppl_gate(
            v, spark.read.parquet(lm_dir), max_ppl=1e5
        )],
    )
    q.awaitTermination(300)
    v = store.read(spark)
    assert v.filter("excl_type = 'ppl'").count() == 1
    assert (
        v.filter("url = 'https://synth.example.org/gib/0'").first().excl_type
        == "ppl"
    )
    # in-domain verdicts match the ungated probe run
    base = {r.url: (r.keep, r.excl_type) for r in probe.read(spark).collect()}
    got = {
        r.url: (r.keep, r.excl_type)
        for r in v.collect()
        if "/gib/" not in r.url
    }
    assert got == base
