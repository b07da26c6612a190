"""Resume/checkpoint semantics: kill/rerun contract (BASELINE.md target 5,
FIXTURES.md invariant 4)."""
from __future__ import annotations

import json
from functools import partial

from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline
from puddin_spark.synth import synth_pages_local


def test_resume_processes_only_new_docs(spark, tmp_path):
    store = SnapshotStore(tmp_path / "verdicts")
    pages = synth_pages_local(spark, 200).cache()
    first_half = pages.limit(120)

    snap0, n0 = run_resumable_pipeline(spark, first_half, store, num_partitions=4)
    assert snap0 == 0 and n0 > 0

    # crash simulation: rerun over the FULL input — only the new urls run
    snap1, n1 = run_resumable_pipeline(spark, pages, store, num_partitions=4)
    assert snap1 == 1 and n1 > 0

    total = store.read(spark)
    en_urls = pages.filter("lang = 'en'").select("url").distinct().count()
    # keep-first dedup collapses duplicate texts *within* a run; across runs the
    # union is keyed by url, still exactly once per processed url
    assert total.select("url").distinct().count() == total.count()
    assert n0 + n1 == total.count()

    # idempotence: third run adds nothing and creates no empty commit
    snap2, n2 = run_resumable_pipeline(spark, pages, store, num_partitions=4)
    assert (snap2, n2) == (-1, 0)
    assert store.current_snapshot_id() == 1

    # lineage rode the same commits and references its snapshot
    lin = store.read_lineage(spark)
    assert set(r.snapshot_id for r in lin.collect()) == {0, 1}
    assert sum(r.n_docs for r in lin.collect()) == total.count()


def test_failed_commit_is_invisible(spark, tmp_path):
    store = SnapshotStore(tmp_path / "t")
    pages = synth_pages_local(spark, 60)
    run_resumable_pipeline(spark, pages.limit(30), store, num_partitions=2)
    n_before = store.read(spark).count()

    # simulate a crash between data write and commit-record write: a data
    # dir exists but no commit record references it
    orphan = store.base / "snap-999999" / "data"
    pages.limit(5).write.parquet(str(orphan))
    assert store.read(spark).count() == n_before  # reader never sees it

    # and a stale staging dir is equally invisible
    (store.base / "_staging" / "deadbeef").mkdir(parents=True)
    assert store.read(spark).count() == n_before


def test_commit_record_shape(spark, tmp_path):
    store = SnapshotStore(tmp_path / "t")
    run_resumable_pipeline(
        spark, synth_pages_local(spark, 40), store, num_partitions=2
    )
    recs = store.commits()
    assert len(recs) == 1
    rec = recs[0]
    assert rec["snapshot_id"] == 0
    assert rec["data_dir"].startswith("snap-")
    assert rec["lineage_dir"].startswith("snap-")
    # record is valid JSON on disk (atomicity artifact)
    raw = json.loads(
        (store.base / "_commits" / "000000.json").read_text()
    )
    assert raw == rec


def test_concurrent_commit_fails_loudly(spark, tmp_path):
    """Two writers racing on the same snapshot id: the loser must raise
    ConcurrentWriteError — and must NOT touch the winner's snapshot
    directory (no destructive reclaim on a committed slot)."""
    from unittest import mock

    import pytest

    from puddin_spark.snapshots import ConcurrentWriteError

    store = SnapshotStore(tmp_path / "t")
    pages = synth_pages_local(spark, 40)
    run_resumable_pipeline(spark, pages.limit(20), store, num_partitions=2)

    # the competing winner's data dir (its record lands MID-RACE below)
    winner = {"snapshot_id": 1, "data_dir": "snap-000001/data",
              "lineage_dir": None, "base": False}
    marker = store.base / "snap-000001" / "data" / "winner.marker"
    marker.parent.mkdir(parents=True)
    marker.write_text("x")

    # (read snapshot 0 via its commit record — data dirs carry the writer
    # token so the name isn't fixed)
    snap0_dir = store.commits()[0]["data_dir"]
    df = spark.read.parquet(str(store.base / snap0_dir)).limit(3)

    # exercise the narrowest window: the winner's record lands AFTER this
    # writer's pre-checks and directory rename, BEFORE its record link —
    # the link(2) arbitration must reject the loser, and the loser's
    # already-renamed directory must become a harmless orphan (the old
    # protocol's reclaim-rmtree destroyed the winner's data right here)
    import os as _os

    real_rename = _os.rename

    def rename_then_winner_lands(src, dst):
        real_rename(src, dst)
        (store.base / "_commits" / "000001.json").write_text(json.dumps(winner))

    with mock.patch("puddin_spark.snapshots.os.rename",
                    side_effect=rename_then_winner_lands):
        with pytest.raises(ConcurrentWriteError):
            store.commit(df)
    assert marker.exists()  # the winner's data survived the losing attempt
    # the loser's renamed directory is an unreferenced orphan: gc collects
    # it without touching record-referenced dirs
    assert list(store.base.glob("snap-000001-*"))
    store.gc(staging_max_age_s=0)
    assert not list(store.base.glob("snap-000001-*"))
    assert marker.exists()


def test_compact_and_gc(spark, tmp_path):
    """Many small commits -> one base snapshot; data identical, old dirs and
    records pruned, resume still idempotent afterwards."""
    store = SnapshotStore(tmp_path / "t")
    pages = synth_pages_local(spark, 120).cache()
    run_resumable_pipeline(spark, pages.limit(40), store, num_partitions=2)
    run_resumable_pipeline(spark, pages.limit(80), store, num_partitions=2)
    run_resumable_pipeline(spark, pages, store, num_partitions=2)
    before = sorted(r.url for r in store.read(spark).select("url").collect())
    lin_docs = sum(r.n_docs for r in store.read_lineage(spark).collect())
    assert len(store.commits()) == 3

    snap_id = store.compact(spark)
    assert snap_id == 3
    after = sorted(r.url for r in store.read(spark).select("url").collect())
    assert after == before  # compaction preserves the table bit-for-bit
    assert sum(r.n_docs for r in store.read_lineage(spark).collect()) == lin_docs

    removed = store.gc()
    assert removed == 3
    assert len(store.commits()) == 1 and store.commits()[0]["base"]
    assert sorted(r.url for r in store.read(spark).select("url").collect()) == before

    # the kill/rerun contract survives compaction: nothing new -> no commit
    snap2, n2 = run_resumable_pipeline(spark, pages, store, num_partitions=2)
    assert (snap2, n2) == (-1, 0)


def test_commit_recovers_from_crash_between_rename_and_record(spark, tmp_path):
    """Crash AFTER the snapshot-dir rename but BEFORE the commit-record write
    leaves an unreferenced snap dir on disk. The next commit must proceed
    unbothered (token-unique dir names mean there is no slot to contend
    for; gc collects the orphan later)."""
    store = SnapshotStore(tmp_path / "t")
    pages = synth_pages_local(spark, 80)
    run_resumable_pipeline(spark, pages.limit(40), store, num_partitions=2)

    # simulate the partial commit: a full data dir at the NEXT snapshot slot,
    # no commit record
    orphan = store.base / "snap-000001" / "data"
    pages.limit(7).write.parquet(str(orphan))
    n_before = store.read(spark).count()
    assert store.read(spark).count() == n_before  # invisible to readers

    snap_id, n_new = run_resumable_pipeline(spark, pages, store, num_partitions=2)
    assert snap_id == 1 and n_new > 0  # slot reclaimed, commit succeeded
    assert store.read(spark).select("url").distinct().count() == store.read(spark).count()


def test_time_travel_read(spark, tmp_path):
    """read(as_of=snap) returns the exact historical state: append commits
    stack, a base (overwrite) commit supersedes only from its id onward,
    and unknown ids fail loudly."""
    import pytest

    from pyspark.sql import functions as F

    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 90).cache()
    run_resumable_pipeline(spark, pages.limit(40), store, num_partitions=2)
    n0 = store.read(spark, as_of=0).count()
    run_resumable_pipeline(spark, pages, store, num_partitions=2)

    assert store.read(spark, as_of=0).count() == n0       # history unchanged
    assert store.read(spark).count() > n0                 # latest sees both
    assert store.read(spark, as_of=1).count() == store.read(spark).count()

    # a base commit (e.g. record_failures overwrite) defines state from its
    # id onward; as_of before it still unions the pre-base appends
    flipped = store.read(spark).withColumn("keep", F.lit(False))
    store.commit(flipped, base=True)
    assert store.read(spark, as_of=2).filter("keep").count() == 0
    assert store.read(spark, as_of=1).filter("keep").count() > 0

    with pytest.raises(ValueError):
        store.read(spark, as_of=99)


def test_rollback_restores_historical_state(spark, tmp_path):
    """rollback(to) = forward-history base commit of a past state (the
    Iceberg rollback shape): reads see the old data, history stays
    readable, resume semantics continue from the restored state."""
    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 90).cache()
    run_resumable_pipeline(spark, pages.limit(40), store, num_partitions=2)
    n0 = store.read(spark).count()
    run_resumable_pipeline(spark, pages, store, num_partitions=2)
    n1 = store.read(spark).count()
    assert n1 > n0

    new_id = store.rollback(spark, 0)
    assert new_id == 2
    assert store.read(spark).count() == n0            # data moved back
    assert store.read(spark, as_of=1).count() == n1   # history intact

    # resume after rollback reprocesses exactly the rolled-back docs
    snap, n_re = run_resumable_pipeline(spark, pages, store, num_partitions=2)
    assert snap == 3 and n_re == n1 - n0
    assert store.read(spark).count() == n1


def test_near_dedup_across_resumes(spark, tmp_path):
    """near_dedup=True: a later batch's fuzzy twin of a committed doc (new
    url, mutated text — invisible to the exact text_sha resume dedup) flips
    to excl_type='near_dup'; survivors join the minhash index; rerun stays
    idempotent; a simulated index-lag crash self-heals."""
    from pyspark.sql import functions as F

    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 80).cache()
    batch1 = pages.limit(40)
    snap0, n0 = run_resumable_pipeline(
        spark, batch1, store, num_partitions=2, near_dedup=True
    )
    assert snap0 == 0 and n0 > 0
    v0 = store.read(spark)
    assert v0.filter("excl_type = 'near_dup'").count() == 0
    idx0 = SnapshotStore(store.base / "minhash_index").read(spark)
    assert idx0.count() == v0.filter("keep").count()

    # batch 2: fresh docs + a fuzzy twin of one committed KEPT doc
    src = v0.filter("keep").orderBy("doc_id").limit(1).collect()[0]
    twin = spark.createDataFrame(
        [("https://twin.example/1", src.clean_text + " extra tail words here")],
        "url string, text string",
    ).selectExpr(
        "url", "cast('2024-01-01' as timestamp) as warc_ts",
        "cast(null as binary) as html", "text", "'en' as lang",
    )
    batch2 = pages.subtract(batch1).unionByName(twin.select(*pages.columns))
    snap1, n1 = run_resumable_pipeline(
        spark, batch2, store, num_partitions=2, near_dedup=True
    )
    assert snap1 == 1 and n1 > 0
    v1 = store.read(spark)
    twin_row = v1.filter(F.col("url") == "https://twin.example/1").collect()[0]
    assert twin_row.keep is False and twin_row.excl_type == "near_dup"
    idx1 = SnapshotStore(store.base / "minhash_index").read(spark)
    assert idx1.count() == v1.filter("keep").count()  # survivors only

    # idempotent rerun
    snap2, n2 = run_resumable_pipeline(
        spark, batch2, store, num_partitions=2, near_dedup=True
    )
    assert (snap2, n2) == (-1, 0)

    # crash-lag recovery: wipe the index store entirely; the next batch
    # rebuilds committed docs' index rows from their committed clean_text
    # and still catches a twin of a batch-1 doc
    import shutil

    shutil.rmtree(store.base / "minhash_index")
    twin2 = twin.selectExpr(
        "'https://twin.example/2' as url", "warc_ts", "html",
        "concat(text, ' more') as text", "lang",
    )
    snap3, _ = run_resumable_pipeline(
        spark, twin2.select(*pages.columns), store, num_partitions=2,
        near_dedup=True,
    )
    assert snap3 == 2
    v3 = store.read(spark)
    t2 = v3.filter(F.col("url") == "https://twin.example/2").collect()[0]
    assert t2.keep is False and t2.excl_type == "near_dup"
    idx3 = SnapshotStore(store.base / "minhash_index").read(spark)
    assert idx3.count() == v3.filter("keep").count()  # fully healed


def test_resume_html_fallback_digest_uses_extracted_text(spark, tmp_path):
    """html_fallback must substitute text BEFORE the resume digest
    anti-join: distinct WET-missing docs in a later batch would otherwise
    all collide on sha2('') with the first committed one and vanish."""
    from pyspark.sql import functions as F

    store = SnapshotStore(tmp_path / "verdicts")
    pages = synth_pages_local(
        spark, 120, include_fixtures=False, htmlonly_every=11
    ).cache()
    hurls = {r.url for r in pages.filter("text = ''").select("url").collect()}
    assert len(hurls) >= 2
    batch1 = pages.filter(F.col("url").isin(list(hurls)[:1]) | (F.col("text") != ""))
    snap1, n1 = run_resumable_pipeline(
        spark, batch1, store, num_partitions=2, html_fallback=True
    )
    assert snap1 == 0 and n1 > 0
    # second batch carries the REMAINING html-only docs (different bodies,
    # same empty raw text): all must commit, none anti-joined away
    snap2, n2 = run_resumable_pipeline(
        spark, pages, store, num_partitions=2, html_fallback=True
    )
    assert snap2 == 1 and n2 == len(hurls) - 1
    committed = store.read(spark)
    got = {r.url for r in committed.select("url").collect()}
    assert hurls <= got
    kept_html = committed.filter(
        F.col("url").isin(list(hurls)) & F.col("keep")
    )
    assert kept_html.count() == len(hurls)
    # idempotent rerun
    snap3, n3 = run_resumable_pipeline(
        spark, pages, store, num_partitions=2, html_fallback=True
    )
    assert snap3 == -1 and n3 == 0


def test_resumable_pipeline_partition_by(spark, tmp_path):
    """Verdict snapshots can land directory-partitioned (Iceberg
    partition-spec analog) straight from the pipeline: files carry the
    lang=... layout, reads reassemble the full table, resume still works,
    and compact() preserves the spec."""
    store = SnapshotStore(tmp_path / "verdicts")
    pages = synth_pages_local(spark, 120).cache()
    snap1, n1 = run_resumable_pipeline(
        spark, pages, store, num_partitions=2, partition_by=["lang"]
    )
    assert snap1 == 0 and n1 > 0
    dirs = list((tmp_path / "verdicts").glob("snap-*/data/lang=*"))
    assert dirs, "expected lang=... partition directories"
    v1 = store.read(spark)
    assert v1.count() == n1 and "lang" in v1.columns

    more = synth_pages_local(spark, 200)
    snap2, n2 = run_resumable_pipeline(
        spark, more, store, num_partitions=2, partition_by=["lang"]
    )
    assert snap2 == 1 and n2 > 0
    assert store.read(spark).count() == n1 + n2

    cid = store.compact(spark)
    assert cid == 2
    assert list((tmp_path / "verdicts").glob(f"snap-{cid:06d}-*/data/lang=*"))
    assert store.read(spark).count() == n1 + n2


def test_schema_evolution_read(spark, tmp_path):
    """Iceberg add-column analog: snapshots committed before a column
    existed still read after later snapshots add one — old rows null-fill,
    new columns are never silently dropped by the multi-dir fast scan.
    Time travel to the old snapshot returns the old schema."""
    from pyspark.sql import functions as F

    store = SnapshotStore(tmp_path / "t")
    v1 = spark.range(0, 5).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.lit(True).alias("keep"),
    )
    store.commit(v1)
    v2 = spark.range(5, 9).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.lit(False).alias("keep"),
        F.lit("low_quality").alias("excl_type"),  # column added in v2
    )
    store.commit(v2)

    got = store.read(spark)
    assert set(got.columns) == {"url", "keep", "excl_type"}
    assert got.count() == 9
    assert got.filter("excl_type is null").count() == 5  # old rows null-fill
    assert got.filter("excl_type = 'low_quality'").count() == 4
    # time travel: the pre-evolution snapshot keeps its own schema
    assert store.read(spark, as_of=0).columns == ["url", "keep"]

    # same contract under directory partitioning
    store2 = SnapshotStore(tmp_path / "p")
    store2.commit(v1.withColumn("lang", F.lit("en")), partition_by=["lang"])
    store2.commit(
        v2.withColumn("lang", F.lit("de")), partition_by=["lang"]
    )
    got2 = store2.read(spark)
    assert got2.count() == 9
    assert got2.filter("lang = 'de' and excl_type is not null").count() == 4


def test_partitioned_store_reads_as_one_scan(spark, tmp_path):
    """Three partitioned commits read as ONE file scan under the recorded
    schemas: no per-commit Union branch (a filter or semi-join above the
    read would be copied into each), partition pruning intact, and no
    schema-inference job."""
    from pyspark.sql import functions as F

    from puddin_spark.plans import executed_plan

    store = SnapshotStore(tmp_path / "b")
    for i in range(3):
        store.commit(
            spark.range(i * 20, i * 20 + 20).select(
                F.col("id").cast("string").alias("id"),
                F.concat(F.lit("p"), (F.col("id") % 4).cast("string")).alias("pfx"),
            ),
            partition_by=["pfx"],
        )
    rec = store.commits()[-1]
    assert rec["rows"] == 20 and json.loads(rec["schema"])["fields"]
    sc = spark.sparkContext
    sc.setJobGroup("one_scan_read", "store read")
    try:
        got = store.read(spark)
    finally:
        sc.setJobGroup("after_read", "after")
    assert not sc.statusTracker().getJobIdsForGroup("one_scan_read")
    q = got.filter(F.col("pfx") == "p1")
    plan = executed_plan(q)
    assert plan.count("FileScan") == 1 and "Union" not in plan
    assert "PartitionFilters" in plan and "pfx" in plan.split("PartitionFilters")[1][:200]
    assert sorted(int(r.id) for r in q.collect()) == list(range(1, 60, 4))
    assert got.columns == ["id", "pfx"] and got.count() == store.row_count() == 60


def test_file_skipping_stats_prune_files(spark, tmp_path):
    """commit(stats_cols=...) records per-file min/max (the Iceberg
    manifest column-stats analog); read_where opens a strict subset of
    files for a selective range predicate and returns exactly what a full
    scan + filter returns."""
    from pyspark.sql import functions as F

    store = SnapshotStore(tmp_path / "t")
    df = (
        spark.range(0, 4000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("grp"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        # cluster on k so per-file ranges are disjoint — the layout that
        # makes min/max stats prune
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    store.commit(df, stats_cols=["k"])
    rec = store.commits()[-1]
    assert rec["stats_cols"] == ["k"] and rec["file_stats"]
    assert all(
        isinstance(v["k"][0], int) and isinstance(v["k"][1], int)
        for v in rec["file_stats"].values()
    )

    full = store.read(spark)
    pruned = store.read_where(spark, "k", 100, 250)
    assert len(set(pruned.inputFiles())) < len(set(full.inputFiles()))
    exp = sorted(r.k for r in full.filter("k between 100 and 250").collect())
    got = sorted(r.k for r in pruned.collect())
    assert got == exp
    # open-ended bounds
    assert store.read_where(spark, "k", lo=3990).count() == 10
    assert store.read_where(spark, "k", hi=9).count() == 10


def test_file_skipping_stats_survive_compact_and_mixed_commits(spark, tmp_path):
    """A stats-less snapshot falls back to all its files (identical
    results), string columns prune too, and compact() re-records stats in
    the merged base snapshot."""
    from pyspark.sql import functions as F

    store = SnapshotStore(tmp_path / "t")
    mk = lambda a, b: (
        spark.range(a, b)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("u"),
        )
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    store.commit(mk(0, 1000), stats_cols=["k", "u"])
    store.commit(mk(1000, 2000))  # no stats: every file of this snapshot scans
    pruned = store.read_where(spark, "k", 0, 99)
    assert pruned.count() == 100
    # string-column pruning
    su = store.read_where(spark, "u", "u000000", "u000099")
    assert su.count() == 100

    sid = store.compact(spark)
    rec = [r for r in store.commits() if r["snapshot_id"] == sid][-1]
    # compaction preserved the latest commit's stats spec (here: none) —
    # re-commit WITH stats to assert the full round trip
    store.commit(mk(2000, 3000), stats_cols=["k"])
    store.compact(spark)
    rec = store.commits()[-1]
    assert rec["base"] and rec["stats_cols"] == ["k"] and rec["file_stats"]
    pr = store.read_where(spark, "k", 2500, 2599)
    assert pr.count() == 100
    assert len(set(pr.inputFiles())) < len(set(store.read(spark).inputFiles()))


def test_srp_meta_first_write_race(tmp_path, monkeypatch):
    """Two concurrent FIRST runs racing to create the srp sidecar's
    _meta.json must resolve through the same link(2) first-writer-wins
    protocol as commits (ADVICE r4: a bare write_text let both proceed
    under their own config). The loser re-reads the winner's file: a
    conflicting config raises, a matching one adopts it quietly."""
    import json
    import os

    import pytest

    from puddin_spark import snapshots as S

    base = tmp_path / "srp_index"
    base.mkdir()
    real_link = os.link

    def racing_link(src, dst, *a, **kw):
        # the "other writer" lands first, then our link hits EEXIST
        if not os.path.exists(dst):
            (base / "_meta.json").write_text(
                json.dumps({"num_planes": 32, "num_bands": 4})
            )
        real_link(src, dst, *a, **kw)

    monkeypatch.setattr(S.os, "link", racing_link)
    with pytest.raises(ValueError, match="num_planes"):
        S._srp_meta(base, 16, 8)
    # no tmp litter from the losing writer
    assert not list(base.glob("._meta.*.tmp"))
    # loser whose requested config MATCHES the winner proceeds
    assert S._srp_meta(base, 32, 4) == (32, 4)
    # and a loser passing no explicit config adopts the winner's
    (base / "_meta.json").unlink()
    monkeypatch.setattr(S.os, "link", racing_link)
    assert S._srp_meta(base, None, None) == (32, 4)


def test_pipeline_lineage_read_prunes_to_batch(spark, tmp_path):
    """VERDICT r5 item 3: the pipeline CONSUMES file-skipping stats on an
    internal read. run_resumable_pipeline commits lineage with per-file
    snapshot_id stats; a per-batch metrics read (read_lineage_where on
    snapshot_id) must open a STRICT subset of the lineage files — exactly
    the batch's own — with results identical to the full scan + filter."""
    from puddin_spark.synth import synth_pages_local

    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 90).cache()
    sids = []
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        batch = pages.offset(lo).limit(hi - lo) if lo else pages.limit(hi)
        sid, _ = run_resumable_pipeline(spark, batch, store, num_partitions=2)
        sids.append(sid)
    assert sids == [0, 1, 2]
    rec = store.commits()[-1]
    assert rec["lineage_stats_cols"] == ["snapshot_id"]
    assert rec["lineage_file_stats"]

    full = store.read_lineage(spark)
    pruned = store.read_lineage_where(spark, "snapshot_id", 1, 1)
    got_files = set(pruned.inputFiles())
    all_files = set(full.inputFiles())
    assert got_files < all_files
    # exactly the middle batch's files: none from snapshots 0 or 2
    assert all("snap-000001-" in f for f in got_files)
    exp = sorted(
        (r.partition_id, r.n_docs, r.n_keep)
        for r in full.filter("snapshot_id = 1").collect()
    )
    got = sorted((r.partition_id, r.n_docs, r.n_keep) for r in pruned.collect())
    assert got == exp and got
    # compact preserves the lineage stats config (new base re-records)
    store.compact(spark)
    rec = store.commits()[-1]
    assert rec["lineage_stats_cols"] == ["snapshot_id"]
    after = store.read_lineage_where(spark, "snapshot_id", 1, 1)
    assert sorted(
        (r.partition_id, r.n_docs, r.n_keep) for r in after.collect()
    ) == exp


def test_resumable_pipeline_decontaminates(spark, tmp_path):
    """run_resumable_pipeline(gates=[apply_decontamination_gate]): kept
    docs sharing a 13-gram with the eval set land as
    excl_type='contaminated' verdicts (completeness invariant intact — the
    doc is recorded, not vanished); rerun stays a no-op (resume reads the
    committed url/sha sets, which the gate does not alter)."""
    from puddin_spark.operators.dedup import apply_decontamination_gate
    from puddin_spark.synth import synth_pages_local

    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 60).cache()
    # eval set = a 20-token window of some soon-to-be-kept docs' CLEAN text
    # (the gate compares clean_text, what training would consume)
    probe = SnapshotStore(tmp_path / "probe")
    run_resumable_pipeline(spark, pages, probe, num_partitions=2)
    kept = probe.read(spark).filter("keep").orderBy("doc_id").limit(3).collect()
    ev = spark.createDataFrame(
        [(" ".join(r.clean_text.split()[4:24]),) for r in kept],
        "text string",
    )

    snap, n = run_resumable_pipeline(
        spark, pages, store, num_partitions=2,
        gates=[partial(apply_decontamination_gate, eval_docs=ev)],
    )
    v = store.read(spark)
    cont = {r.doc_id for r in v.filter("excl_type = 'contaminated'").collect()}
    assert cont == {r.doc_id for r in kept}
    assert v.filter("excl_type = 'contaminated' and clean_text is not null").count() == 0
    # every url still has exactly one verdict row
    assert v.count() == probe.read(spark).count()
    # rerun: no-op
    snap2, n2 = run_resumable_pipeline(
        spark, pages, store, num_partitions=2,
        gates=[partial(apply_decontamination_gate, eval_docs=ev)],
    )
    assert (snap2, n2) == (-1, 0)


def test_null_url_batch_raises_before_any_commit(spark, tmp_path):
    """url is the document key (doc_id = sha2(url)): a null url would never
    be removed as a keep-first loser and would drop out of the kept-id
    fingerprint. The count that sizes the batch observes null urls, and a
    batch holding one fails loudly before anything is committed."""
    import pytest

    from puddin_spark.synth import SPARK_SCHEMA_DDL, gen_rows

    store = SnapshotStore(tmp_path / "verdicts")
    rows = gen_rows(0, 40, include_fixtures=False)
    pages = spark.createDataFrame(rows[:20], schema=SPARK_SCHEMA_DDL)
    run_resumable_pipeline(spark, pages, store, num_partitions=2)
    before = store.commits()
    batch = spark.createDataFrame(rows[20:], schema=SPARK_SCHEMA_DDL)
    orphan = spark.createDataFrame(
        [(None, "A null url page with plenty of ordinary english words in it.")],
        "url string, text string",
    ).selectExpr(
        "url", "cast('2024-01-01' as timestamp) as warc_ts",
        "cast(null as binary) as html", "text", "'en' as lang",
    ).select(*pages.columns)
    with pytest.raises(ValueError, match="1 of .* null url"):
        run_resumable_pipeline(
            spark, batch.unionByName(orphan), store, num_partitions=2, near_dedup=True
        )
    assert store.commits() == before
    assert not (tmp_path / "verdicts" / "minhash_index").exists()
    snap, n = run_resumable_pipeline(
        spark, batch, store, num_partitions=2, near_dedup=True
    )
    assert snap == 1 and n > 0


def test_rerun_is_narrow_no_op(spark, tmp_path, monkeypatch):
    """A rerun that finds nothing new ends on the narrow (url, text_sha)
    resume pre-pass: quality_pipeline is never called, and the whole call
    runs at most 6 Spark jobs."""
    from conftest import jobs_in

    from puddin_spark import pipeline

    store = SnapshotStore(tmp_path / "verdicts")
    pages = synth_pages_local(spark, 120).cache()
    snap, n = run_resumable_pipeline(spark, pages, store, num_partitions=2)
    assert snap == 0 and n > 0

    def no_udf_plan(*a, **kw):
        raise AssertionError("quality_pipeline called on a no-op rerun")

    monkeypatch.setattr(pipeline, "quality_pipeline", no_udf_plan)
    out = []
    n_jobs = jobs_in(
        spark,
        lambda: out.append(run_resumable_pipeline(spark, pages, store, num_partitions=2)),
    )
    assert out == [(-1, 0)]
    assert n_jobs <= 6, n_jobs
    assert store.current_snapshot_id() == 0
