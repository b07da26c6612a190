"""Embedding (SRP) near-dedup sidecar lifecycle — the embedding-space
mirror of test_near_dedup_across_resumes / test_near_dedup_lifecycle:

- a later batch's embedding twin of a committed doc (new url, text whose
  token distribution is proportional — invisible to exact sha AND to the
  scrubbed-text equality) flips to excl_type='emb_near_dup';
- survivors join the srp_index sidecar; rerun is idempotent; an index-wipe
  crash self-heals by re-encoding committed clean_text;
- the committed index is directory-partitioned by bucket prefix and the
  incremental scan prunes partitions;
- record_failures prunes the srp sidecar alongside the minhash one;
- composing with near_dedup=True keeps BOTH indexes consistent with the
  final kept set.

The deterministic twin is the doc's text with word order REVERSED: the
signed hashed-BoW embedding is bit-identical (cosine exactly 1.0, same SRP
bucket by construction) because the bag of words is unchanged, while exact
sha AND word-3-gram shingle dedup (minhash) both see new content — the
case only the embedding family can catch.
"""
from __future__ import annotations

import shutil
from functools import reduce

from pyspark.sql import functions as F

from puddin_spark.snapshots import (
    SnapshotStore,
    record_failures,
    run_resumable_pipeline,
)
from puddin_spark.synth import synth_pages_local
from puddin_spark.validation import validate_run


def _emb_twin(spark, clean_text: str, url: str, pages, rot: int = 0):
    """Same bag of words, different bytes/shingles: word order reversed
    (and rotated by `rot` so successive twins of one source differ)."""
    words = list(reversed(clean_text.split()))
    words = words[rot:] + words[:rot]
    return (
        spark.createDataFrame(
            [(url, " ".join(words))],
            "url string, text string",
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


def test_embedding_near_dedup_across_resumes(spark, tmp_path):
    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 80).cache()
    batch1 = pages.limit(40)
    snap0, n0 = run_resumable_pipeline(
        spark, batch1, store, num_partitions=2, embedding_near_dedup=True
    )
    assert snap0 == 0 and n0 > 0
    v0 = store.read(spark)
    # random word-soup docs sit far below the 0.99 cosine bar (signed
    # hashing centers random cosines near 0) — no in-batch false drops
    assert v0.filter("excl_type = 'emb_near_dup'").count() == 0
    idx0 = SnapshotStore(store.base / "srp_index").read(spark)
    assert idx0.count() == v0.filter("keep").count()
    assert set(idx0.columns) == {"id", "v"}
    # the derived band cache holds num_bands rows per indexed doc
    bands0 = SnapshotStore(store.base / "srp_bands").read(spark)
    assert bands0.count() % idx0.count() == 0 and bands0.count() > idx0.count()
    assert set(bands0.columns) == {"id", "band", "bucket", "bucket_pfx"}

    # batch 2: fresh docs + an embedding twin of one committed KEPT doc
    src = v0.filter("keep").orderBy("doc_id").limit(1).collect()[0]
    twin = _emb_twin(spark, src.clean_text, "https://twin.example/e1", pages)
    batch2 = pages.subtract(batch1).unionByName(twin.select(*pages.columns))
    snap1, n1 = run_resumable_pipeline(
        spark, batch2, store, num_partitions=2, embedding_near_dedup=True
    )
    assert snap1 == 1 and n1 > 0
    v1 = store.read(spark)
    twin_row = v1.filter(F.col("url") == "https://twin.example/e1").collect()[0]
    assert twin_row.keep is False and twin_row.excl_type == "emb_near_dup"
    idx1 = SnapshotStore(store.base / "srp_index").read(spark)
    assert idx1.count() == v1.filter("keep").count()  # survivors only

    # idempotent rerun
    assert run_resumable_pipeline(
        spark, batch2, store, num_partitions=2, embedding_near_dedup=True
    ) == (-1, 0)

    # crash-lag recovery: wipe the index store; the next batch re-encodes
    # committed docs from clean_text and still catches a twin
    shutil.rmtree(store.base / "srp_index")
    twin2 = _emb_twin(spark, src.clean_text, "https://twin.example/e2", pages, rot=3)
    snap3, _ = run_resumable_pipeline(
        spark,
        twin2.select(*pages.columns),
        store,
        num_partitions=2,
        embedding_near_dedup=True,
    )
    assert snap3 == 2
    v3 = store.read(spark)
    t2 = v3.filter(F.col("url") == "https://twin.example/e2").collect()[0]
    assert t2.keep is False and t2.excl_type == "emb_near_dup"
    idx3 = SnapshotStore(store.base / "srp_index").read(spark)
    assert idx3.count() == v3.filter("keep").count()  # fully healed


def test_srp_bands_partitioned_and_pruned(spark, tmp_path):
    from puddin_spark.plans import executed_plan
    from puddin_spark.snapshots import _srp_meta

    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 60).cache()
    run_resumable_pipeline(
        spark, pages.limit(30), store, num_partitions=2, embedding_near_dedup=True
    )
    run_resumable_pipeline(
        spark, pages, store, num_partitions=2, embedding_near_dedup=True
    )
    srp_store = SnapshotStore(store.base / "srp_index")
    idx = srp_store.read(spark)
    v = store.read(spark)
    assert idx.count() == v.filter("keep").count()
    # derived-cache invariant: num_bands band rows per indexed doc
    _, n_bands = _srp_meta(srp_store.base, None, None)
    bands = SnapshotStore(store.base / "srp_bands").read(spark)
    assert bands.count() == idx.count() * n_bands
    # on-disk layout: bucket_pfx=pX partition directories inside each
    # BAND-table snapshot (the index itself stays unpartitioned (id, v))
    data_dirs = list((store.base / "srp_bands").glob("snap-*/data"))
    assert data_dirs and all(
        any(p.name.startswith("bucket_pfx=p") for p in d.iterdir() if p.is_dir())
        for d in data_dirs
    )
    # filtering on the partition column prunes at the scan — the shape the
    # incremental committed-side scan uses (filter to the batch's prefixes)
    one_pfx = bands.select("bucket_pfx").first()[0]
    plan = executed_plan(bands.filter(F.col("bucket_pfx") == one_pfx))
    assert (
        "PartitionFilters" in plan
        and "bucket_pfx" in plan.split("PartitionFilters")[1][:200]
    )


def test_record_failures_prunes_srp_sidecar(spark, tmp_path):
    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 60).cache()
    run_resumable_pipeline(
        spark, pages, store, num_partitions=2, embedding_near_dedup=True
    )
    v0 = store.read(spark)
    srp_store = SnapshotStore(store.base / "srp_index")
    assert srp_store.read(spark).count() == v0.filter("keep").count()

    victim = v0.filter("keep").orderBy("doc_id").limit(1).collect()[0]
    record_failures(
        spark,
        store,
        spark.createDataFrame([(victim.doc_id,)], "doc_id string"),
        num_partitions=2,
    )
    v1 = store.read(spark)
    pruned = srp_store.read(spark)
    assert pruned.count() == v1.filter("keep").count()
    assert pruned.filter(F.col("id") == victim.doc_id).count() == 0
    # a future embedding twin of the now-excluded doc is KEPT (no stale
    # index entry drops it — the both-copies-lost bug)
    twin = _emb_twin(spark, victim.clean_text, "https://twin.example/rf", pages)
    run_resumable_pipeline(
        spark, twin, store, num_partitions=2, embedding_near_dedup=True
    )
    t = store.read(spark).filter("url = 'https://twin.example/rf'").first()
    assert t.keep is True and t.excl_type is None


def test_minhash_and_embedding_near_dedup_compose(spark, tmp_path):
    """Both sidecars enabled: a minhash twin flips to 'near_dup', an
    embedding twin to 'emb_near_dup', and BOTH indexes equal the final
    kept set (the minhash index must not retain a doc the embedding pass
    dropped)."""
    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 50).cache()
    run_resumable_pipeline(
        spark, pages, store, num_partitions=2,
        near_dedup=True, embedding_near_dedup=True,
    )
    v0 = store.read(spark)
    kept = v0.filter("keep")
    srcs = kept.orderBy("doc_id").limit(2).collect()
    mh_twin = (
        spark.createDataFrame(
            [("https://twin.example/mh", srcs[0].clean_text + " extra tail words here")],
            "url string, text string",
        )
        .selectExpr(
            "url", "cast('2024-01-01' as timestamp) as warc_ts",
            "cast(null as binary) as html", "text", "'en' as lang",
        )
        .select(*pages.columns)
    )
    emb_twin = _emb_twin(spark, srcs[1].clean_text, "https://twin.example/eb", pages)
    run_resumable_pipeline(
        spark, mh_twin.unionByName(emb_twin), store, num_partitions=2,
        near_dedup=True, embedding_near_dedup=True,
    )
    v1 = store.read(spark)
    got = {r["url"]: r for r in v1.filter("url like 'https://twin.example/%'").collect()}
    assert got["https://twin.example/mh"].keep is False
    assert got["https://twin.example/mh"].excl_type == "near_dup"
    assert got["https://twin.example/eb"].keep is False
    assert got["https://twin.example/eb"].excl_type == "emb_near_dup"
    n_kept = v1.filter("keep").count()
    assert SnapshotStore(store.base / "minhash_index").read(spark).count() == n_kept
    assert SnapshotStore(store.base / "srp_index").read(spark).count() == n_kept
    # completeness with no allowlist: both sidecar flips null clean_text
    summary, _ = validate_run(
        pages.unionByName(mh_twin).unionByName(emb_twin), v1, digest_aware=True
    )
    assert summary["ok"] and summary["n_known_fail"] == 0, summary


def test_srp_planes_persisted_and_guarded(spark, tmp_path):
    """First use records num_planes in the sidecar's _meta.json; later
    runs inherit it when unspecified and FAIL LOUDLY on a conflicting
    explicit value (bucket keys across plane counts are incomparable)."""
    import json as _json

    import pytest as _pytest

    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 30).cache()
    run_resumable_pipeline(
        spark, pages.limit(15), store, num_partitions=2,
        embedding_near_dedup=True, srp_planes=10, srp_bands=3,
    )
    meta = _json.loads((store.base / "srp_index" / "_meta.json").read_text())
    assert meta["num_planes"] == 10 and meta["num_bands"] == 3
    bands = SnapshotStore(store.base / "srp_bands").read(spark)
    assert bands.agg(F.max("bucket")).first()[0] < 1 << 10
    assert bands.agg(F.max("band")).first()[0] == 2

    # unspecified -> persisted value; twin still caught at 10 planes
    src = store.read(spark).filter("keep").orderBy("doc_id").limit(1).collect()[0]
    twin = _emb_twin(spark, src.clean_text, "https://twin.example/pl", pages)
    batch2 = pages.subtract(pages.limit(15)).unionByName(twin.select(*pages.columns))
    run_resumable_pipeline(
        spark, batch2, store, num_partitions=2, embedding_near_dedup=True
    )
    t = store.read(spark).filter("url = 'https://twin.example/pl'").first()
    assert t.keep is False and t.excl_type == "emb_near_dup"

    # conflicting explicit value refuses instead of silently mismatching
    with _pytest.raises(ValueError, match="num_planes"):
        run_resumable_pipeline(
            spark, pages, store, num_partitions=2,
            embedding_near_dedup=True, srp_planes=12,
        )


def test_numpy_band_buckets_match_sql_formulation(spark):
    """The production numpy band-bucket UDF and the SQL srp_band_table
    share one hyperplane family (identical LCG constants): identical
    (id, band, bucket) rows on random unit vectors."""
    import random

    from puddin_spark.operators.similarity import (
        srp_band_buckets_udf,
        srp_band_table,
    )

    random.seed(17)
    rows = []
    for i in range(60):
        v = [random.gauss(0, 1) for _ in range(64)]
        n = sum(x * x for x in v) ** 0.5
        rows.append((str(i), [x / n for x in v]))
    idx = spark.createDataFrame(rows, "id string, v array<double>")
    sql_rows = {
        (r.id, r.band, int(r.bucket))
        for r in srp_band_table(idx, num_planes=16, num_bands=8).collect()
    }
    udf = srp_band_buckets_udf(16, 8)
    np_rows = {
        (r.id, r.band, int(r.bucket))
        for r in idx.select(
            "id", F.posexplode(udf("v")).alias("band", "bucket")
        ).collect()
    }
    assert np_rows == sql_rows


def test_stale_sidecar_over_wiped_store_heals(spark, tmp_path):
    """A sidecar index that outlived its verdict store (store wiped, e.g.
    recreated under the same path; `srp_index`/`minhash_index` left behind)
    must NOT dedup the next first batch against documents absent from the
    corpus — without the heal every doc re-ingested after the wipe would be
    dropped as a near-dup of its own ghost (ADVICE r4). The appliers prune
    the leftover index to empty as a base commit and proceed as a true
    first run."""
    store = SnapshotStore(tmp_path / "v")
    pages = synth_pages_local(spark, 30).cache()
    snap0, n0 = run_resumable_pipeline(
        spark, pages, store, num_partitions=2,
        near_dedup=True, embedding_near_dedup=True,
    )
    assert n0 > 0
    kept0 = store.read(spark).filter("keep").count()
    assert kept0 > 0

    # wipe the VERDICT commit log only — both sidecars survive in place
    for rec in (store.base / "_commits").glob("*.json"):
        rec.unlink()
    store2 = SnapshotStore(tmp_path / "v")
    assert store2.read(spark) is None  # corpus is now empty

    snap1, n1 = run_resumable_pipeline(
        spark, pages, store2, num_partitions=2,
        near_dedup=True, embedding_near_dedup=True,
    )
    v = store2.read(spark)
    # identical to a clean first run: nothing flips against the ghosts
    assert v.filter("excl_type in ('near_dup', 'emb_near_dup')").count() == 0
    assert v.filter("keep").count() == kept0
    # and both sidecar indexes were rebuilt to exactly the new kept set
    for name in ("srp_index", "minhash_index"):
        idx = SnapshotStore(store2.base / name).read(spark)
        assert idx.select("id").distinct().count() == kept0
    # hot-bucket telemetry rides both band caches as commit lineage
    # (band_occupancy: the no-silent-caps visibility from VERDICT r5 #5)
    for name in ("srp_bands", "minhash_bands"):
        occ = SnapshotStore(store2.base / name).read_lineage(spark)
        assert occ is not None
        rows = occ.collect()
        assert rows and all(r.n_total == r.n_new + r.n_committed for r in rows)
        assert {"band", "bucket", "n_new", "n_committed", "n_total"} <= set(
            occ.columns
        )


def test_large_drop_set_branch_matches_default(spark, tmp_path, monkeypatch):
    """Above snapshots._LOCAL_EDGES, new-vs-new clusters resolve in Spark
    (resolve_duplicate_clusters), verdicts flip through a one-column id
    frame, and the sidecar commits anti-join that frame. Forcing the bound
    to 0 must commit the same verdict, index and band rows as the default
    run. At the default bound the index and band commits read the batch's
    drop set as an IN filter: their write plans hold no join. The forced
    branch broadcasts its id frame, which bounds its extra Spark jobs."""
    from conftest import jobs_in

    from puddin_spark import snapshots
    from puddin_spark.operators import dedup
    from puddin_spark.synth import _prose

    pages = synth_pages_local(spark, 40).cache()

    def page(url, text):
        return spark.createDataFrame(
            [(url, text)], "url string, text string"
        ).selectExpr(
            "url", "cast('2024-01-01' as timestamp) as warc_ts",
            "cast(null as binary) as html", "text", "'en' as lang",
        ).select(*pages.columns)

    plans = []
    real_commit = snapshots.SnapshotStore.commit

    def commit(self, df, *a, **kw):
        if self.base.name.endswith(("_index", "_bands")) and not kw.get("base"):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_commit(self, df, *a, **kw)

    monkeypatch.setattr(snapshots.SnapshotStore, "commit", commit)

    def run(name):
        store = SnapshotStore(tmp_path / name)
        run_resumable_pipeline(
            spark, pages, store, num_partitions=2,
            near_dedup=True, embedding_near_dedup=True,
        )
        srcs = store.read(spark).filter("keep").orderBy("doc_id").limit(2).collect()
        mh, emb = _prose(9001), _prose(9002)
        batch2 = [
            page("https://twin.example/mh", srcs[0].clean_text + " extra tail words here"),
            _emb_twin(spark, srcs[1].clean_text, "https://twin.example/eb", pages),
            page("https://new.example/mh-a", mh),
            page("https://new.example/mh-b", mh + " extra tail words here"),
            page("https://new.example/eb-a", emb),
            _emb_twin(spark, emb, "https://new.example/eb-b", pages),
        ]
        del plans[:]
        n_jobs = jobs_in(spark, lambda: run_resumable_pipeline(
            spark, reduce(lambda a, b: a.unionByName(b), batch2), store,
            num_partitions=2,
            near_dedup=True, embedding_near_dedup=True,
        ))
        tables = [store.read(spark)] + [
            SnapshotStore(store.base / n).read(spark)
            for n in ("minhash_index", "minhash_bands", "srp_index", "srp_bands")
        ]
        return tables, list(plans), n_jobs

    default, default_plans, default_jobs = run("default")
    planted = default[0].filter("url like 'https://twin.%' or url like 'https://new.%'")
    flips = {r.url: r.excl_type for r in planted.filter("not keep").collect()}
    # the committed twins flip; each in-batch pair loses one member
    assert flips.pop("https://twin.example/mh") == "near_dup"
    assert flips.pop("https://twin.example/eb") == "emb_near_dup"
    assert sorted((u[:-2], t) for u, t in flips.items()) == [
        ("https://new.example/eb", "emb_near_dup"),
        ("https://new.example/mh", "near_dup"),
    ]
    assert len(default_plans) == 4
    assert not any("Join" in p for p in default_plans), default_plans

    resolved = []
    real_resolve = dedup.resolve_duplicate_clusters

    def resolve(*a, **kw):
        resolved.append(1)
        return real_resolve(*a, **kw)

    monkeypatch.setattr(snapshots, "_LOCAL_EDGES", 0)
    monkeypatch.setattr(dedup, "resolve_duplicate_clusters", resolve)
    forced, forced_plans, forced_jobs = run("forced")
    assert len(resolved) >= 2  # both sidecars, batch 2
    assert all("Join" in p for p in forced_plans)
    # the id frame is broadcast, so no plan that joins it shuffles it: on
    # this batch the branch costs 48 jobs over the default (label
    # propagation included), and 64 when every join shuffled both sides
    assert forced_jobs - default_jobs <= 56, (default_jobs, forced_jobs)
    for a, b in zip(default, forced):
        assert a.columns == b.columns
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
