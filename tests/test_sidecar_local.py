"""The near-dedup sidecars' driver path (snapshots._sidecars_local).

- Its new-vs-new pair sets equal the Spark generators' on seeded random
  batches with planted families: `sub` copies (one token swapped, the
  minhash sidecar's twins) and `perm` copies (words shuffled, same bag of
  words, so the same embedding), including one batch at the row bound.
- Its Jaccard threshold decides like Spark's HALF_UP round(x, 6) >= 0.5.
- A sidecar batch against a committed store runs a pinned, flat number of
  Spark jobs, and commits what the checkpointed path above the bound
  commits.
- The driver path's occupancy schema, built without planning
  band_occupancy, equals band_occupancy's on a first and a later batch.
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
    minhash and embedding twins of committed docs) runs 29 Spark jobs, and
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
    assert counts[0] == 29, counts
    assert counts[0] == counts[1], counts
    for name in ("minhash_bands", "srp_bands"):
        for rec in snapshots.SnapshotStore(store.base / name).commits():
            data = store.base / name / rec["data_dir"]
            dirs = [d for d in data.iterdir() if d.is_dir()]
            assert sum(len(list(d.glob("*.parquet"))) for d in dirs) == len(dirs), rec


def test_checkpointed_path_commits_what_the_driver_path_commits(spark, tmp_path, monkeypatch):
    """With the row bound forced to 0 every batch runs the checkpointed
    Spark path (_sidecars_in_spark); after each batch its verdict, index
    and band rows and its band occupancy lineage equal the driver path's."""
    def tables(store):
        out = [store.read(spark)]
        for name in snapshots.SIDECAR_STORES:
            side = snapshots.SnapshotStore(store.base / name)
            out.append(side.read(spark))
            if name.endswith("_bands"):
                out.append(side.read_lineage(spark))
        return out

    default = snapshots.SnapshotStore(tmp_path / "default")
    after = []
    for _, pages in _sidecar_batches(spark, tmp_path, default):
        _run(spark, pages, default)
        after.append(tables(default))
    monkeypatch.setattr(snapshots, "_LOCAL_ROWS", 0)
    forced = snapshots.SnapshotStore(tmp_path / "forced")
    for n, (_, pages) in enumerate(_sidecar_batches(spark, tmp_path, forced)):
        _run(spark, pages, forced)
        for a, b in zip(after[n], tables(forced)):
            assert a.schema == b.schema
            assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


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
