"""The near-dedup sidecars' driver pass (snapshots._sidecars_local).

- Its new-vs-new pair sets equal the Spark generators' on seeded random
  batches with planted families: `sub` copies (one token swapped, the
  minhash sidecar's twins) and `perm` copies (words shuffled, same bag of
  words, so the same embedding), including one batch at the row bound.
- Its Jaccard threshold decides like Spark's HALF_UP round(x, 6) >= 0.5.
- A sidecar batch against a committed store runs a pinned, flat number of
  Spark jobs; one above the row bound commits as driver-sized sub-batches
  that keep every invariant, also when killed between sub-batches.
- A hot family with more than 20 000 new-vs-new edges clusters on the
  driver and keeps exactly one member.
- The driver path's occupancy schema, built without planning
  band_occupancy, equals band_occupancy's on a first and a later batch.
- A batch's occupancy lineage holds only the band keys the batch touches,
  and equals band_occupancy over its new and the committed band rows.
"""
from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from puddin_spark import snapshots
from puddin_spark.operators.dedup import (
    incremental_minhash_pairs,
    local_minhash_pairs,
    round6_at_least,
)
from puddin_spark.operators.similarity import local_srp_pairs, srp_batch_pairs_matmul


def _batch(seed: int, n: int, families: int = 8) -> list[tuple[str, str]]:
    """(doc_id, clean_text) rows: random pages over a shared vocabulary,
    then `families` sub copies and `families` perm copies of earlier
    pages, the last rows of exactly n."""
    rng = random.Random(seed)
    vocab = [f"w{rng.randrange(10**6):06d}" for _ in range(3000)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(20, 60)))
        for _ in range(n - 2 * families)
    ]
    for f in range(families):
        words = texts[f].split()
        words[rng.randrange(len(words))] = rng.choice(vocab)
        texts.append(" ".join(words))
        words = texts[families + f].split()
        rng.shuffle(words)
        texts.append(" ".join(words))
    return [(f"{rng.getrandbits(128):032x}", t) for t in texts]


def _pair_sets(spark, rows):
    kept = spark.createDataFrame(rows, "doc_id string, clean_text string")
    mh = snapshots._minhash_index_table(kept).cache()
    spark_mh = {
        (r.id_a, r.id_b)
        for r in incremental_minhash_pairs(
            mh, None, band_size=snapshots._ND_BAND_KW["band_size"],
            jaccard_threshold=snapshots._ND_MIN_JACCARD,
        ).filter("not committed_side").collect()
    }
    local = mh.withColumn("_k", snapshots._minhash_keys()).collect()
    driver_mh = local_minhash_pairs(
        [r.id for r in local], [r.sh for r in local], [r._k for r in local],
        jaccard_threshold=snapshots._ND_MIN_JACCARD,
    )
    srp = snapshots._srp_index_table(kept).cache()
    bands = snapshots._srp_bands_table(srp, 16, 8)
    spark_srp = {
        (r.id_a, r.id_b)
        for r in srp_batch_pairs_matmul(srp, bands, min_cos=snapshots._SRP_ND_MIN_COS).collect()
    }
    local = srp.withColumn("_k", snapshots._srp_keys(16, 8)).collect()
    driver_srp = local_srp_pairs(
        [r.id for r in local], [r.v for r in local], [r._k for r in local],
        min_cos=snapshots._SRP_ND_MIN_COS,
    )
    mh.unpersist()
    srp.unpersist()
    return spark_mh, driver_mh, spark_srp, driver_srp


def test_driver_pairs_equal_spark_pairs(spark):
    for seed, n in ((1, 120), (2, 300), (3, snapshots._LOCAL_ROWS)):
        spark_mh, driver_mh, spark_srp, driver_srp = _pair_sets(spark, _batch(seed, n))
        # every planted family is found, by the sidecar it is planted for
        assert len(spark_mh) >= 8 and len(spark_srp) >= 8, (seed, len(spark_mh), len(spark_srp))
        assert driver_mh == spark_mh, seed
        assert driver_srp == spark_srp, seed


def test_jaccard_threshold_rounds_like_spark(spark):
    xs = set()
    for c in (0.4999995, 0.4999985, 0.5):
        for direction in (0.0, 1.0):
            x = c
            for _ in range(200):
                x = float(np.nextafter(x, direction))
                xs.add(x)
    rng = random.Random(0)
    xs |= {rng.uniform(0.499999, 0.500001) for _ in range(2000)}
    xs |= {a / b for b in range(1999995, 2000005) for a in range(999990, 1000002)}
    df = spark.createDataFrame(pd.DataFrame({"x": sorted(xs)}))
    got = {r.x: r.ok for r in df.select("x", (F.round("x", 6) >= 0.5).alias("ok")).collect()}
    assert any(got.values()) and not all(got.values())
    assert {x: round6_at_least(x, 0.5) for x in got} == got


def _sidecar_batches(spark, tmp_path, store):
    """Yield (batch number, pages) for batches 2 and 3 after committing a
    seed batch to `store`: fresh synthetic pages plus one minhash twin
    (a tail added) and one embedding twin (words reversed) of a committed
    kept doc, each batch read back from parquet like a real input."""
    from puddin_spark.synth import gen_rows

    def parquet(frame: pd.DataFrame, name: str):
        path = tmp_path / f"{store.base.name}-{name}"
        spark.createDataFrame(frame, schema="url string, warc_ts timestamp, html binary, "
                              "text string, lang string").write.parquet(str(path))
        return spark.read.parquet(str(path))

    assert _run(spark, parquet(gen_rows(0, 80, include_fixtures=False), "b1"), store)[0] == 0
    kept = [
        r.clean_text
        for r in store.read(spark).filter("keep").orderBy("doc_id").limit(4).collect()
    ]
    for b, (lo, hi) in enumerate(((80, 120), (120, 160)), start=2):
        frame = gen_rows(lo, hi, include_fixtures=False)
        twins = pd.DataFrame({
            "url": [f"https://twin.example/{b}/mh", f"https://twin.example/{b}/eb"],
            "warc_ts": frame["warc_ts"].iloc[:2].tolist(),
            "html": [None, None],
            "text": [
                kept[2 * b - 4] + " extra tail words here",
                " ".join(reversed(kept[2 * b - 3].split())),
            ],
            "lang": ["en", "en"],
        })
        yield b, parquet(pd.concat([frame, twins], ignore_index=True), f"b{b}")


def _run(spark, pages, store):
    return snapshots.run_resumable_pipeline(
        spark, pages, store, num_partitions=2, near_dedup=True, embedding_near_dedup=True,
    )


def test_sidecar_batch_jobs_bounded_and_flat(spark, tmp_path):
    """A sidecar batch against a committed store (both sidecars, planted
    minhash and embedding twins of committed docs) runs 27 Spark jobs, and
    the next batch runs as many. Every band commit writes one file per
    populated prefix directory: the driver-side band rows are written
    without a shuffle, and no more files than the shuffle gave."""
    from conftest import jobs_in

    store = snapshots.SnapshotStore(tmp_path / "v")
    counts = []
    for b, pages in _sidecar_batches(spark, tmp_path, store):
        out = []
        counts.append(jobs_in(spark, lambda: out.append(_run(spark, pages, store))))
        assert out[0][0] == b - 1
        twins = store.read(spark).filter(F.col("url").startswith(f"https://twin.example/{b}/"))
        flipped = {r.url: r.excl_type for r in twins.collect()}
        assert flipped == {
            f"https://twin.example/{b}/mh": "near_dup",
            f"https://twin.example/{b}/eb": "emb_near_dup",
        }
    assert counts[0] == 27, counts
    assert counts[0] == counts[1], counts
    for name in ("minhash_bands", "srp_bands"):
        for rec in snapshots.SnapshotStore(store.base / name).commits():
            data = store.base / name / rec["data_dir"]
            dirs = [d for d in data.iterdir() if d.is_dir()]
            assert sum(len(list(d.glob("*.parquet"))) for d in dirs) == len(dirs), rec


def _split_batch(spark, tmp_path, store):
    """Commit a seed batch to `store`, then return (every page, the next
    batch, its planted families): ~300 fresh synthetic pages plus a
    minhash twin (a tail added) and an embedding twin (words reversed) of
    two committed kept docs, and three minhash and three embedding
    families of two new docs each."""
    from puddin_spark.synth import _prose, gen_rows

    cols = "url string, warc_ts timestamp, html binary, text string, lang string"

    def parquet(frame: pd.DataFrame, name: str):
        path = tmp_path / f"{store.base.name}-{name}"
        spark.createDataFrame(frame, schema=cols).write.parquet(str(path))
        return spark.read.parquet(str(path))

    seed = parquet(gen_rows(0, 80, include_fixtures=False), "seed")
    assert _run(spark, seed, store)[0] == 0
    kept = [
        (r.url, r.clean_text)
        for r in store.read(spark).filter("keep").orderBy("doc_id").limit(2).collect()
    ]
    fams = {
        "committed-mh": [kept[0][0], "https://twin.example/mh"],
        "committed-eb": [kept[1][0], "https://twin.example/eb"],
    }
    planted = [
        ("https://twin.example/mh", kept[0][1] + " extra tail words here"),
        ("https://twin.example/eb", " ".join(reversed(kept[1][1].split()))),
    ]
    for f in range(6):
        text, kind = _prose(9100 + f), ("mh", "eb")[f % 2]
        twin = text + " extra tail words here" if kind == "mh" else " ".join(
            reversed(text.split())
        )
        urls = [f"https://new.example/{f}/{kind}-a", f"https://new.example/{f}/{kind}-b"]
        fams[f"new-{f}"] = urls
        planted += list(zip(urls, (text, twin)))
    frame = gen_rows(80, 380, include_fixtures=False)
    extra = pd.DataFrame({
        "url": [u for u, _ in planted],
        "warc_ts": frame["warc_ts"].iloc[: len(planted)].tolist(),
        "html": None,
        "text": [t for _, t in planted],
        "lang": "en",
    })
    batch = parquet(pd.concat([frame, extra], ignore_index=True), "batch")
    return seed.unionByName(batch), batch, fams


def _assert_split_store_valid(spark, store, pages, fams):
    """validate_run is ok (duplicate_body included), each family keeps one
    member, and each sidecar index holds exactly the committed kept set,
    with index rows x band_rows band rows."""
    from puddin_spark.validation import validate_run

    verdicts = store.read(spark)
    summary, _ = validate_run(pages, verdicts, digest_aware=True)
    assert summary["ok"], summary
    kept = {r.url for r in verdicts.filter("keep").select("url").collect()}
    assert {f: sum(u in kept for u in m) for f, m in fams.items()} == dict.fromkeys(fams, 1)
    want = snapshots._id_set_stats(verdicts, snapshots._KEPT_IDS)
    for spec, band_rows in ((snapshots._MINHASH, snapshots._ND_NUM_BANDS), (snapshots._SRP, 8)):
        idx_store, bands_store = spec.stores(store.base)
        idx = idx_store.read(spark)
        assert snapshots._id_set_stats(idx, "id") == want, spec.kind
        assert idx_store.fingerprint("id") == want, spec.kind
        assert bands_store.read(spark).count() == want[0] * band_rows, spec.kind


def test_oversized_batch_commits_driver_sized_sub_batches(spark, tmp_path, monkeypatch):
    """With the row bound forced to 64, a ~300-doc sidecar batch commits k
    = ceil(kept / 64) verdict snapshots, one per sub-batch: the store
    validates, every planted family (committed twins, and new pairs that
    may straddle sub-batches) keeps exactly one member, each sidecar index
    equals the committed kept set, and a rerun is a no-op. A run killed
    after the first sub-batch's verdict commit, before its sidecar
    commits, ends in the same invariants when rerun."""
    import pytest

    monkeypatch.setattr(snapshots, "_LOCAL_ROWS", 64)
    store = snapshots.SnapshotStore(tmp_path / "split")
    pages, batch, fams = _split_batch(spark, tmp_path, store)
    snap_id, n_new = _run(spark, batch, store)
    new = store.read(spark).join(batch.select("url"), "url", "left_semi")
    assert n_new == new.count()
    # the sidecars flip only docs the rules kept: k is fixed by those
    n_kept = new.filter("keep or excl_type in ('near_dup', 'emb_near_dup')").count()
    k = -(-n_kept // 64)
    assert k >= 3 and snap_id == k, (n_kept, snap_id)
    assert [r["snapshot_id"] for r in store.commits()] == list(range(k + 1))
    _assert_split_store_valid(spark, store, pages, fams)
    assert _run(spark, batch, store) == (-1, 0)

    killed = snapshots.SnapshotStore(tmp_path / "killed")
    pages, batch, fams = _split_batch(spark, tmp_path, killed)
    real = snapshots._commit_near_dedup

    def crash(*args):
        monkeypatch.setattr(snapshots, "_commit_near_dedup", real)
        raise RuntimeError("killed after the first sub-batch's verdict commit")

    monkeypatch.setattr(snapshots, "_commit_near_dedup", crash)
    with pytest.raises(RuntimeError, match="killed"):
        _run(spark, batch, killed)
    assert killed.current_snapshot_id() == 1
    assert _run(spark, batch, killed)[0] > 1
    _assert_split_store_valid(spark, killed, pages, fams)
    assert _run(spark, batch, killed) == (-1, 0)


def test_hot_family_stays_on_the_driver(spark, tmp_path, monkeypatch):
    """One sidecar batch holds a family of 216 near-identical new docs (one
    text, a distinct two-word tail each: no exact duplicates) whose
    new-vs-new minhash edges number more than 20 000. They cluster on the
    driver, with Spark label propagation unreachable: the family keeps
    exactly one member, its minimum doc_id, the rest flip to near_dup, and
    both sidecar indexes equal the committed kept set."""
    from itertools import islice, permutations

    from puddin_spark.operators import dedup
    from puddin_spark.synth import _WORDS, _prose, gen_rows

    def resolve(*a, **kw):
        raise AssertionError("resolve_duplicate_clusters ran")

    monkeypatch.setattr(dedup, "resolve_duplicate_clusters", resolve)
    n_edges = []
    real_pairs = snapshots._MINHASH.local_pairs

    def local_pairs(*a, **kw):
        edges = real_pairs(*a, **kw)
        n_edges.append(len(edges))
        return edges

    monkeypatch.setattr(
        snapshots, "_MINHASH", snapshots._MINHASH._replace(local_pairs=local_pairs)
    )
    cols = "url string, warc_ts timestamp, html binary, text string, lang string"
    store = snapshots.SnapshotStore(tmp_path / "hot")
    seed = spark.createDataFrame(gen_rows(0, 40, include_fixtures=False), cols)
    assert _run(spark, seed, store)[0] == 0
    frame = gen_rows(40, 80, include_fixtures=False)
    base = _prose(9200, 24)
    urls = [f"https://hot.example/{i}" for i in range(216)]
    hot = pd.DataFrame({
        "url": urls,
        "warc_ts": frame["warc_ts"].iloc[0],
        "html": None,
        "text": [
            f"{base} Then the {a} and the {b} left."
            for a, b in islice(permutations(_WORDS, 2), len(urls))
        ],
        "lang": "en",
    })
    batch = spark.createDataFrame(pd.concat([frame, hot], ignore_index=True), cols)
    assert _run(spark, batch, store)[0] == 1
    assert n_edges[-1] > 20_000, n_edges

    verdicts = store.read(spark)
    family = verdicts.filter(F.col("url").startswith("https://hot.example/")).collect()
    assert len(family) == len(urls)
    kept = [r for r in family if r.keep]
    assert [r.doc_id for r in kept] == [min(r.doc_id for r in family)]
    assert {r.excl_type for r in family if not r.keep} == {"near_dup"}
    want = snapshots._id_set_stats(verdicts, snapshots._KEPT_IDS)
    for spec in (snapshots._MINHASH, snapshots._SRP):
        idx_store, _ = spec.stores(store.base)
        assert idx_store.fingerprint("id") == want, spec.kind
        assert snapshots._id_set_stats(idx_store.read(spark), "id") == want, spec.kind


def test_occupancy_schema_is_band_occupancy_schema(spark, tmp_path):
    """_occupancy_schema equals band_occupancy's planned schema for both
    sidecars' band tables: band non-null on a first batch (no committed
    bands; the SRP bucket, a UDF array element, is nullable already), band
    and bucket nullable once committed bands are read back."""
    from functools import partial

    from puddin_spark.operators.similarity import band_occupancy

    kept = spark.createDataFrame(_batch(5, 40, families=2), "doc_id string, clean_text string")
    srp = snapshots._SRP._replace(
        bands=partial(snapshots._srp_bands_table, num_planes=16, num_bands=8)
    )
    for spec in (snapshots._MINHASH, srp):
        bands = spec.bands(spec.index(kept))
        store = snapshots.SnapshotStore(tmp_path / spec.kind)
        store.commit(bands, partition_by=[spec.pfx_col])
        band_col, bucket_col = spec.occupancy_cols
        nullable = []
        for committed in (None, store.read(spark)):
            want = band_occupancy(
                bands, committed, band_col=band_col, bucket_col=bucket_col
            ).schema
            assert snapshots._occupancy_schema(spec, bands, committed) == want, spec.kind
            nullable.append((want["band"].nullable, want["bucket"].nullable))
        # the two cases differ: band is non-null only without committed bands
        assert nullable[0][0] is False and nullable[1] == (True, True), (spec.kind, nullable)


def test_occupancy_covers_only_touched_keys(spark, tmp_path):
    """After a 40-doc seed batch, a batch of one fresh doc commits, for
    each sidecar, an occupancy lineage of exactly that doc's band keys,
    each with n_new >= 1 (the seed's committed-only keys do not rank), and
    those rows equal band_occupancy over the new and the committed band
    rows."""
    from puddin_spark.operators.similarity import band_occupancy
    from puddin_spark.synth import _prose, gen_rows

    cols = "url string, warc_ts timestamp, html binary, text string, lang string"
    store = snapshots.SnapshotStore(tmp_path / "occ")
    seed = gen_rows(0, 40, include_fixtures=False)
    assert _run(spark, spark.createDataFrame(seed, cols), store)[0] == 0
    fresh = pd.DataFrame({
        "url": ["https://fresh.example/0"],
        "warc_ts": seed["warc_ts"].iloc[:1].tolist(),
        "html": None,
        "text": [_prose(9300)],
        "lang": "en",
    })
    assert _run(spark, spark.createDataFrame(fresh, cols), store)[0] == 1
    assert store.read(spark).filter("keep").filter(
        F.col("url") == "https://fresh.example/0"
    ).count() == 1
    for spec in (snapshots._MINHASH, snapshots._SRP):
        bands_store = spec.stores(store.base)[1]
        recs = bands_store.commits()
        band_col, bucket_col = spec.occupancy_cols
        new_bands = spark.read.parquet(str(bands_store.base / recs[-1]["data_dir"]))
        keys = {(r[0], r[1]) for r in new_bands.select(band_col, bucket_col).collect()}
        assert len(keys) == new_bands.count() > 0, spec.kind
        lineage = spark.read.parquet(str(bands_store.base / recs[-1]["lineage_dir"])).collect()
        assert {(r.band, r.bucket) for r in lineage} == keys, spec.kind
        assert all(r.n_new >= 1 for r in lineage), spec.kind
        committed = bands_store.read(spark, as_of=recs[-2]["snapshot_id"])
        want = band_occupancy(new_bands, committed, band_col=band_col, bucket_col=bucket_col)
        assert sorted(map(tuple, lineage)) == sorted(map(tuple, want.collect())), spec.kind
