"""The traced run's layer walk and its span recorder.

Before a traced call into `snapshots.run_resumable_pipeline`, the walk calls
each layer's function on the same batch, in pipeline order, forces it
(a count, a cache fill or a commit) and records one span per layer. The real
call then advances the store. Spans are kept in memory and written out when
the run ends. The program itself carries no instrumentation: every span is
taken here, around a call into one layer.
"""
from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import functions as F


class Tracer:
    """Spans (name, start, end, parent) in seconds since the tracer began."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {
                    "name": name,
                    "start": round(start - self.t0, 6),
                    "end": round(end - self.t0, 6),
                    "parent": parent,
                }
            )

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def child_seconds(self, parent: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] == parent)

    def dump(self) -> str:
        return json.dumps(self.spans)


def _resume(spark, pages, store):
    """The url + text-digest anti-join of `pages` against the committed
    store, as run_resumable_pipeline does it before any UDF work."""
    committed = store.read(spark)
    if committed is None:
        return pages
    todo = store.resume_filter(spark, pages)
    return todo.join(
        committed.select("text_sha").distinct(),
        F.sha2(todo["text"], 256) == F.col("text_sha"),
        "left_anti",
    )


def resume(tr: Tracer, spark, pages, store):
    """snapshots.resume: returns the persisted to-do rows."""
    with tr.span("snapshots.resume"):
        todo = _resume(spark, pages, store).persist()
        todo.count()
    return todo


def verdicts_lineage_commit(tr: Tracer, pages, k: int, scratch_store):
    """pipeline.verdicts, pipeline.lineage and snapshots.commit on one batch.
    The commit goes to a throwaway store, so the real call still sees the
    batch as new. Returns the persisted verdicts (caller unpersists)."""
    from puddin_spark.pipeline import lineage_table, quality_pipeline

    with tr.span("pipeline.verdicts"):
        verdicts = quality_pipeline(pages, num_partitions=k, with_timing=True).persist()
        verdicts.count()
    with tr.span("pipeline.lineage"):
        lineage = (
            lineage_table(verdicts, num_partitions=k)
            .withColumn("snapshot_id", F.lit(scratch_store.current_snapshot_id() + 1))
            .persist()
        )
        lineage.count()
    with tr.span("snapshots.commit"):
        scratch_store.commit(
            verdicts.drop("proc_ts"), lineage, lineage_stats_cols=["snapshot_id"]
        )
    lineage.unpersist()
    return verdicts


def sidecars(tr: Tracer, spark, verdicts, store) -> dict:
    """The minhash then embedding near-dedup layers on one batch's verdicts,
    against the committed sidecar stores. Returns counts.

    The sidecar parameters and the SRP index/band table functions are
    private to `snapshots`; the walk uses them as they are, so it repeats
    exactly the work the sidecars do rather than an approximation of it."""
    from puddin_spark import snapshots as snap
    from puddin_spark.operators.dedup import (
        band_table,
        free_local_checkpoints,
        incremental_minhash_pairs,
        minhash_index,
        resolve_duplicate_clusters,
    )
    from puddin_spark.operators.similarity import (
        band_occupancy,
        committed_srp_flip_ids,
        srp_batch_pairs_matmul,
    )

    base = store.base
    out = {}
    kept = verdicts.filter("keep").select("doc_id", "clean_text")
    with tr.span("dedup.index"):
        committed_idx = snap.SnapshotStore(base / "minhash_index").read(spark)
        committed_bands = snap.SnapshotStore(base / "minhash_bands").read(spark)
        new_idx = minhash_index(
            kept, "doc_id", "clean_text", **snap._ND_IDX_KW
        ).localCheckpoint()
        new_bands = band_table(new_idx, **snap._ND_BAND_KW)
        if committed_bands is not None:
            pfx = [r[0] for r in new_bands.select("band_pfx").distinct().collect()]
            committed_bands = committed_bands.filter(F.col("band_pfx").isin(pfx))
        occ = band_occupancy(
            new_bands, committed_bands, band_col="band_ix", bucket_col="band_key"
        ).first()
        out["dedup.max_bucket"] = occ.n_total if occ else 0
    with tr.span("dedup.pairs"):
        pairs = incremental_minhash_pairs(
            new_idx,
            committed_idx,
            band_size=snap._ND_BAND_KW["band_size"],
            jaccard_threshold=0.5,
            new_bands=new_bands,
            committed_bands=committed_bands,
        ).persist()
        out["dedup.pairs"] = pairs.count()
    new_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    drops = set()
    with tr.span("dedup.cluster"):
        edges = pairs.collect()
        for p in edges:
            if p.committed_side:
                drops |= {p.id_a, p.id_b} & new_ids
        new_new = pairs.filter("not committed_side").select("id_a", "id_b")
        if not new_new.isEmpty():
            clusters = resolve_duplicate_clusters(new_new)
            drops |= {r.id for r in clusters.filter("id != root").collect()}
            free_local_checkpoints(clusters)
    pairs.unpersist()
    survivors = kept.filter(~F.col("doc_id").isin(sorted(drops))) if drops else kept

    meta = json.loads((base / "srp_index" / "_meta.json").read_text())
    planes, nbands = meta["num_planes"], meta["num_bands"]
    with tr.span("similarity.encode"):
        new_sidx = snap._srp_index_table(survivors).localCheckpoint()
        new_sbands = snap._srp_bands_table(new_sidx, planes, nbands).localCheckpoint()
        committed_sidx = snap.SnapshotStore(base / "srp_index").read(spark)
        committed_sbands = snap.SnapshotStore(base / "srp_bands").read(spark)
        if committed_sbands is not None:
            pfx = [r[0] for r in new_sbands.select("bucket_pfx").distinct().collect()]
            committed_sbands = committed_sbands.filter(F.col("bucket_pfx").isin(pfx))
        occ = band_occupancy(new_sbands, committed_sbands).first()
        out["similarity.max_bucket"] = occ.n_total if occ else 0
    with tr.span("similarity.vs_committed"):
        if committed_sidx is not None:
            flips = committed_srp_flip_ids(
                new_sidx, new_sbands, committed_sidx, committed_sbands,
                min_cos=snap._SRP_ND_MIN_COS,
            )
            flips.count()
            free_local_checkpoints(flips)
    with tr.span("similarity.new_new"):
        srp_batch_pairs_matmul(new_sidx, new_sbands, min_cos=snap._SRP_ND_MIN_COS).count()
    for frame in (new_idx, new_sidx, new_sbands):
        free_local_checkpoints(frame)
    return out
