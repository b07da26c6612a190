"""Near-dedup sidecar lifecycle (round-3 hardening):

- after record_failures, the next ingest's reconciliation gate prunes
  the stale index entries before pairing, so a future fuzzy twin of a
  now-excluded doc is KEPT (the both-copies-lost bug) and the index
  equals the kept set again;
- the (count, xor-of-ids) gate catches same-count membership drift (the
  rollback blind spot of a count-only gate);
- the persisted band table is directory-partitioned by band-key prefix and
  the incremental scan prunes partitions;
- compact() preserves the partition spec and compacted sidecars behave
  identically.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from puddin_spark.snapshots import (
    SnapshotStore,
    record_failures,
    run_resumable_pipeline,
)
from puddin_spark.synth import synth_pages_local


def _twin_of(spark, clean_text: str, url: str, pages):
    return (
        spark.createDataFrame(
            [(url, clean_text + " extra tail words here")], "url string, text string"
        )
        .selectExpr(
            "url",
            "cast('2024-01-01' as timestamp) as warc_ts",
            "cast(null as binary) as html",
            "text",
            "'en' as lang",
        )
        .select(*pages.columns)
    )


def test_record_failures_prunes_index_and_twin_of_excluded_doc_is_kept(
    spark, tmp_path, monkeypatch
):
    """The name is historical: record_failures itself no longer prunes;
    the next ingest's reconciliation gate does, by ids alone."""
    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 60).cache()
    run_resumable_pipeline(spark, pages, store, num_partitions=2, near_dedup=True)
    v0 = store.read(spark)
    idx_store = SnapshotStore(store.base / "minhash_index")
    assert idx_store.read(spark).count() == v0.filter("keep").count()

    # flip one kept doc to excl_type='fail' (the F9 post-hoc verdict flip)
    victim = v0.filter("keep").orderBy("doc_id").limit(1).collect()[0]
    failed = spark.createDataFrame([(victim.doc_id,)], "doc_id string")
    record_failures(spark, store, failed, num_partitions=2)
    v1 = store.read(spark)
    assert v1.filter(f"doc_id = '{victim.doc_id}'").first().keep is False

    # a fuzzy twin of the EXCLUDED doc must be kept: its only near-dup is
    # no longer in the corpus, and the next ingest's reconciliation gate
    # prunes the stale index entry before pairing (else it would drop the
    # twin — both copies lost)
    twin = _twin_of(spark, victim.clean_text, "https://twin.example/kept", pages)
    idx_plans = []
    real_commit = SnapshotStore.commit

    def spy(self, data, *a, **kw):
        if self.base == idx_store.base:
            idx_plans.append(data._jdf.queryExecution().executedPlan().toString())
        return real_commit(self, data, *a, **kw)

    monkeypatch.setattr(SnapshotStore, "commit", spy)
    run_resumable_pipeline(spark, twin, store, num_partitions=2, near_dedup=True)
    monkeypatch.undo()
    # the prune reads ids only: no index commit re-indexes committed text
    assert len(idx_plans) == 2
    assert not any("clean_text" in p for p in idx_plans)
    v2 = store.read(spark)
    t = v2.filter("url = 'https://twin.example/kept'").first()
    assert t.keep is True and t.excl_type is None
    # the index equals the kept set, without the victim (the gate will not
    # re-fire)
    idx = idx_store.read(spark)
    assert {r.id for r in idx.select("id").collect()} == {
        r.doc_id for r in v2.filter("keep").select("doc_id").collect()
    }
    assert idx.filter(F.col("id") == victim.doc_id).count() == 0


def test_fingerprint_gate_catches_same_count_membership_drift(spark, tmp_path):
    """Corrupt the index to the RIGHT row count but WRONG membership (what a
    rollback to an equal-sized state produces); the xor-of-ids fingerprint
    must trigger reconciliation so a twin of a truly-kept doc is still
    caught as near_dup."""
    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 40).cache()
    run_resumable_pipeline(spark, pages, store, num_partitions=2, near_dedup=True)
    idx_store = SnapshotStore(store.base / "minhash_index")
    idx = idx_store.read(spark)
    n = idx.count()
    src = store.read(spark).filter("keep").orderBy("doc_id").limit(1).collect()[0]
    # same count, one id swapped for a phantom: count-only gates pass this
    corrupted = idx.withColumn(
        "id",
        F.when(F.col("id") == src.doc_id, F.lit("phantom-id")).otherwise(
            F.col("id")
        ),
    )
    idx_store.commit(corrupted, base=True)
    assert idx_store.read(spark).count() == n

    twin = _twin_of(spark, src.clean_text, "https://twin.example/drift", pages)
    run_resumable_pipeline(spark, twin, store, num_partitions=2, near_dedup=True)
    t = store.read(spark).filter("url = 'https://twin.example/drift'").first()
    assert t.keep is False and t.excl_type == "near_dup"
    # reconciliation landed as a base commit: phantom gone, real id back
    healed = idx_store.read(spark)
    assert healed.filter("id = 'phantom-id'").count() == 0
    assert healed.filter(f"id = '{src.doc_id}'").count() == 1


def test_band_store_partitioned_and_pruned(spark, tmp_path):
    from puddin_spark.plans import executed_plan

    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 60).cache()
    run_resumable_pipeline(
        spark, pages.limit(30), store, num_partitions=2, near_dedup=True
    )
    run_resumable_pipeline(spark, pages, store, num_partitions=2, near_dedup=True)
    bands_store = SnapshotStore(store.base / "minhash_bands")
    bands = bands_store.read(spark)
    idx = SnapshotStore(store.base / "minhash_index").read(spark)
    # derived-cache invariant: 8 band rows per indexed doc
    assert bands.count() == idx.count() * 8
    # on-disk layout: band_pfx=pX partition directories inside each snapshot
    data_dirs = list((store.base / "minhash_bands").glob("snap-*/data"))
    assert data_dirs and all(
        any(p.name.startswith("band_pfx=p") for p in d.iterdir() if p.is_dir())
        for d in data_dirs
    )
    # filtering on the partition column prunes at the scan (PartitionFilters)
    one_pfx = bands.select("band_pfx").first()[0]
    plan = executed_plan(bands.filter(F.col("band_pfx") == one_pfx))
    assert "PartitionFilters" in plan and "band_pfx" in plan.split("PartitionFilters")[1][:200]


def test_compacted_sidecars_behave_identically(spark, tmp_path):
    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 60).cache()
    run_resumable_pipeline(
        spark, pages.limit(30), store, num_partitions=2, near_dedup=True
    )
    run_resumable_pipeline(spark, pages, store, num_partitions=2, near_dedup=True)
    idx_store = SnapshotStore(store.base / "minhash_index")
    bands_store = SnapshotStore(store.base / "minhash_bands")
    n_idx, n_bands = idx_store.read(spark).count(), bands_store.read(spark).count()

    idx_store.compact(spark)
    idx_store.gc(staging_max_age_s=0)
    bands_store.compact(spark)
    bands_store.gc(staging_max_age_s=0)
    # one snapshot dir each, same contents, partition spec preserved
    assert idx_store.read(spark).count() == n_idx
    bands = bands_store.read(spark)
    assert bands.count() == n_bands
    assert [d.name for d in (store.base / "minhash_bands").glob("snap-*")] \
        and len(list((store.base / "minhash_bands").glob("snap-*"))) == 1
    data_dir = next((store.base / "minhash_bands").glob("snap-*/data"))
    assert any(p.name.startswith("band_pfx=p") for p in data_dir.iterdir())

    # post-compaction ingest: twin still flips, stores stay consistent
    src = store.read(spark).filter("keep").orderBy("doc_id").limit(1).collect()[0]
    twin = _twin_of(spark, src.clean_text, "https://twin.example/pc", pages)
    run_resumable_pipeline(spark, twin, store, num_partitions=2, near_dedup=True)
    v = store.read(spark)
    t = v.filter("url = 'https://twin.example/pc'").first()
    assert t.keep is False and t.excl_type == "near_dup"
    assert idx_store.read(spark).count() == v.filter("keep").count()


def test_records_without_recorded_stats_read_and_reconcile(spark, tmp_path):
    """A store whose commit records predate recorded schemas, row counts
    and fingerprints (stripped here from the JSON) still reads, still
    flips a twin, and its sidecar takes the repair once: the base commit
    records a fingerprint equal to the kept set's, so the gate reads
    records from then on and does not fire again."""
    import json

    from puddin_spark.snapshots import _KEPT_IDS, _id_set_stats

    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 40).cache()
    run_resumable_pipeline(spark, pages, store, num_partitions=2, near_dedup=True)
    v0 = store.read(spark)
    assert store.fingerprint(_KEPT_IDS) == _id_set_stats(v0, _KEPT_IDS)
    n0 = v0.count()
    for rec_path in tmp_path.rglob("_commits/*.json"):
        rec = json.loads(rec_path.read_text())
        for key in ("schema", "lineage_schema", "rows", "fingerprint"):
            rec.pop(key)
        rec_path.write_text(json.dumps(rec))
    idx_store = SnapshotStore(store.base / "minhash_index")
    bands_store = SnapshotStore(store.base / "minhash_bands")
    assert store.fingerprint(_KEPT_IDS) is None and bands_store.row_count() is None
    assert store.read(spark).count() == n0

    kept = store.read(spark).filter("keep").orderBy("doc_id").limit(2).collect()
    for i, src in enumerate(kept):
        twin = _twin_of(spark, src.clean_text, f"https://twin.example/old{i}", pages)
        run_resumable_pipeline(spark, twin, store, num_partitions=2, near_dedup=True)
        t = store.read(spark).filter(f"url = 'https://twin.example/old{i}'").first()
        assert t.keep is False and t.excl_type == "near_dup"
    v = store.read(spark)
    n_kept = v.filter("keep").count()
    assert idx_store.fingerprint("id") == _id_set_stats(v, _KEPT_IDS)
    assert idx_store.read(spark).count() == n_kept
    assert bands_store.row_count() == bands_store.read(spark).count() == n_kept * 8
    # one repair each, on the first batch after the strip
    assert sum(r["base"] for r in idx_store.commits()) == 1
    assert sum(r["base"] for r in bands_store.commits()) == 1


def test_incremental_pairs_same_with_and_without_pruned_band_cache(spark):
    """Unit equivalence: supplying the persisted band table (filtered to the
    batch's prefixes) must yield the identical verified pair set as
    deriving bands from signatures in-plan."""
    from puddin_spark.operators.dedup import (
        band_table,
        incremental_minhash_pairs,
        minhash_index,
    )

    base = [
        (f"c{i}", f"alpha beta gamma delta epsilon zeta eta theta doc {i} "
                  f"iota kappa lamda mu nu xi omicron pi rho")
        for i in range(20)
    ]
    new = [("n1", base[3][1] + " tail"), ("n2", "totally unrelated words only here")]
    kw = dict(num_hashes=16, shingle_k=3, shingle_mode="word")
    bkw = dict(num_hashes=16, band_size=2, hash_impl="md5")
    ci = minhash_index(
        spark.createDataFrame(base, "doc_id string, text string"), **kw
    )
    ni = minhash_index(
        spark.createDataFrame(new, "doc_id string, text string"), **kw
    )
    plain = incremental_minhash_pairs(ni, ci, band_size=2, jaccard_threshold=0.3)
    nb = band_table(ni, **bkw)
    pfx = [r[0] for r in nb.select("band_pfx").distinct().collect()]
    cb = band_table(ci, **bkw).filter(F.col("band_pfx").isin(pfx))
    cached = incremental_minhash_pairs(
        ni, ci, band_size=2, jaccard_threshold=0.3, new_bands=nb, committed_bands=cb
    )
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in cached.collect()}
    assert a == b and len(a) > 0
