"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k. The query side is broadcast (it's
  small by construction); the corpus side streams — no shuffle of the corpus
  at all, so this scales to any corpus size that the executors can scan.
  Dot products run in JVM whole-stage codegen via `aggregate`/`zip_with` —
  no Python.
- srp_buckets / srp_candidate_pairs: sign-random-projection LSH. Hyperplane
  weights come from an integer LCG on (plane, dim) — exact in both Spark and
  any SQL oracle (no libm sin() drift). At 10^12 rows the bucket key is the
  shuffle key; candidates within a bucket are verified exactly.
"""
from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from puddin_spark.operators.dedup import bucket_pairs, local_buckets


def rebalanced(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input cannot split (single-chunk
    parquet => one scan task): per-row-heavy work — the ANN family's
    interpreted higher-order cosine folds, queries.read_table(rebalance=True)
    callers — on a 1-task corpus serializes the whole computation regardless
    of cluster width (guide section 2.5, input-skew bullet). No-op whenever
    the scan already yields defaultParallelism partitions — i.e. at any real
    multi-file scale.

    Caveat: the df.rdd partition-count probe finalizes the adaptive plan,
    which EXECUTES any upstream shuffle stages. Every in-repo caller hands
    it a bare scan (probe cost ~ms); a corpus derived through
    joins/aggregations would pay its upstream stages twice — materialize
    such a frame (or read it from storage) first."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
            f" cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )


def cosine_col(a: str, b: str):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _with_vectors(cand: DataFrame, vecs: DataFrame) -> DataFrame:
    """Candidate pairs + v_a/v_b: the (id, v) rows rejoin each endpoint
    AFTER bucket_pairs, so the bucket self-join never carries vectors."""
    return cand.join(
        vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a"
    ).join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos_sim).
    Deterministic tie-break on (sim desc, neighbor_id asc); self-matches
    excluded. Rounded to 6 dp so independent engines agree bit-for-bit."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = rebalanced(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine_col("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def srp_weight_expr(plane: int, dim_var: str = "i") -> str:
    """Deterministic pseudo-random hyperplane weight in [-0.5, 0.5), exact
    integer arithmetic so any engine reproduces it:
      w(p, i) = ((1103515245*(i + 7919*p) + 12345) mod 1000) / 999 - 0.5
    """
    return (
        f"(cast(pmod(cast(1103515245 as bigint) * (cast({dim_var} as bigint)"
        f" + 7919 * {plane}) + 12345, 1000) as double) / 999.0 - 0.5)"
    )


def srp_bucket_col(vec_col: str, num_planes: int = 8, plane_offset: int = 0):
    """LSH bucket id = sum over planes of (dot(v, w_p) > 0) << p.
    plane_offset selects a DISJOINT hyperplane family (planes
    [offset, offset+num_planes)) so banded SRP can derive independent
    bucket keys from one vector (srp_band_table)."""
    bits = []
    for p in range(num_planes):
        dot = (
            f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1),"
            f" (x, i) -> cast(x as double) * {srp_weight_expr(p + plane_offset)}),"
            f" cast(0.0 as double), (acc, v) -> acc + v)"
        )
        bits.append(f"(case when {dot} > 0 then {1 << p} else 0 end)")
    return F.expr(" + ".join(bits))


def srp_buckets(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", num_planes: int = 8
) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        srp_bucket_col(vec_col, num_planes).alias("bucket"),
    )


def srp_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    min_cos: float = 0.0,
    max_bucket: int | None = None,
) -> DataFrame:
    """ANN candidate pairs: same SRP bucket, verified by exact cosine.
    max_bucket drops degenerate buckets from pair generation (a bucket of m
    vectors contributes m^2/2 pairs — see minhash_lsh_pairs for the scale
    rationale); None keeps exact LSH semantics."""
    rows = df.select(
        F.col(id_col).alias("id"), srp_bucket_col(vec_col, num_planes).alias("bucket")
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        _with_vectors(bucket_pairs(rows, None, ["bucket"], max_bucket), vecs)
        .withColumn("cos_sim", F.round(cosine_col("v_a", "v_b"), 6))
        .filter(F.col("cos_sim") >= min_cos)
        .select("id_a", "id_b", "bucket", "cos_sim")
    )


FIXED_POINT = 1 << 20  # centroid-mean quantization (see train_centroids)


def _lit_vec_sql(vec: list[float]) -> str:
    """A double-array literal (string-cast form: repr round-trips any float
    exactly and avoids literal-syntax edge cases like 1e-05)."""
    return "array(" + ",".join(f"cast('{x!r}' as double)" for x in vec) + ")"


def nearest_cells_expr(
    vec_col: str, centroids: list[tuple[int, list[float]]], nprobe: int = 1
):
    """The nprobe nearest centroid ids for each row, as a PURE PROJECTION —
    no join, no shuffle. The centroid table is tiny and already local
    (train_centroids collects it), so it is inlined as literals and the
    argmin runs inside whole-stage codegen. This is the assignment plan that
    survives 10^12 rows: the former crossJoin + row_number window shuffled
    the whole corpus once per Lloyd iteration just to rank 8 candidates per
    row.

    Bit-identical to the window form: cos rounded to 6 dp, ties to the
    lower cent_id (array_sort on struct(-cos, cid) = order by cos desc,
    cid asc) — so SQL oracles that replay the window formulation agree.
    """
    entries = ",".join(
        f"named_struct('nc', -round("
        f"aggregate(zip_with({vec_col}, {_lit_vec_sql(v)},"
        f" (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
        f" / (sqrt(aggregate(transform({vec_col},"
        f" x -> cast(x as double) * cast(x as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v))"
        f" * cast('{math.sqrt(sum(x * x for x in v))!r}' as double)), 6),"
        f" 'cid', {cid})"
        for cid, v in centroids
    )
    return F.expr(
        f"transform(slice(array_sort(array({entries})), 1, {nprobe}), s -> s.cid)"
    )


def train_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over DataFrame ops, fully deterministic across engines
    (so the DuckDB gate oracle replays it bit-for-bit):

    - init: the n_centroids vectors with the smallest md5(id) — a seeded
      "random" sample any SQL engine reproduces (cent_id = 1..n in md5 order);
    - assign: nearest centroid by cosine (rounded 6 dp, ties to lower
      cent_id) as a shuffle-free projection over inlined centroid literals
      (nearest_cells_expr);
    - update: per-cell per-dim mean computed as an INTEGER sum of
      fixed-point-quantized values (round(v * 2^20) as bigint). Double sums
      depend on partition arrival order in Spark; integer sums are
      order-independent, so the means are exact and reproducible. The lost
      precision (< 1e-6 per value) is irrelevant to a coarse quantizer.
    - empty cells keep their previous centroid.

    Returns [(cent_id, vector-as-doubles)] — tiny, intended for broadcast.
    """
    init = (
        corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).cast("array<double>").alias("nv"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    cents = [(i + 1, list(r["nv"])) for i, r in enumerate(init)]
    dims = len(cents[0][1]) if cents else 0
    # every Lloyd iteration re-projects the corpus through the inlined-
    # centroid assignment expression: rebalance once so the iterations
    # don't serialize on a single scan task (results are partitioning-
    # independent by design — integer fixed-point sums)
    c = rebalanced(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    )
    for _ in range(iters):
        # assignment is a shuffle-free projection (nearest_cells_expr): the
        # only exchange per Lloyd iteration is the (cell, dim) partial-agg
        assigned = c.select(
            "nid", "nv", nearest_cells_expr("nv", cents, 1)[0].alias("cell")
        )
        sums = (
            assigned.select(
                "cell", F.posexplode(F.col("nv").cast("array<double>")).alias("dim", "val")
            )
            .groupBy("cell", "dim")
            .agg(
                F.sum(
                    F.round(F.col("val") * FIXED_POINT).cast("bigint")
                ).alias("s"),
                F.count("*").alias("c"),
            )
            .withColumn(
                "mv",
                F.round(
                    F.col("s").cast("double") / F.col("c") / float(FIXED_POINT), 6
                ),
            )
            .collect()
        )
        means: dict[int, list[float]] = {}
        for r in sums:
            means.setdefault(r["cell"], [0.0] * dims)[r["dim"]] = r["mv"]
        cents = [(cid, means.get(cid, old)) for cid, old in cents]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    n_centroids cells, then search only the nprobe cells nearest to each
    query. Centroids default to train_centroids (deterministic k-means);
    pass `centroids` to reuse a trained quantizer across queries.

    Scale shape: the assignment join broadcasts the tiny centroid table; the
    search join hits only `nprobe/n_centroids` of the corpus per query —
    at 10^12 vectors the cell id becomes the partition key and each query
    touches a bounded slice. Accuracy is approximate by construction; the
    exact baseline is brute_force_topk.
    """
    if centroids is None:
        centroids = train_centroids(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )
    # both coarse-quantization steps are shuffle-free projections over the
    # inlined centroid literals (nearest_cells_expr) — the corpus is never
    # shuffled for assignment, only for the probe equi-join below
    c = rebalanced(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    )
    assigned = c.select(
        "nid", "nv", nearest_cells_expr("nv", centroids, 1)[0].alias("cell")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    probes = q.select(
        "query_id",
        "qv",
        F.explode(nearest_cells_expr("qv", centroids, nprobe)).alias("cell"),
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("nid") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine_col("qv", "nv"), 6))
        .withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("nid").alias("neighbor_id"), "rank", "cos_sim")
    )


def srp_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
) -> DataFrame:
    """Persistable SRP index (id, v, bucket) — the embedding-space analog of
    dedup.minhash_index. Write it next to the snapshot store (partitioned by
    `bucket`, or a bucket prefix at high num_planes, for the same file
    pruning the minhash band table gets) and incremental batches never
    re-project the committed corpus through the hyperplanes."""
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
        srp_bucket_col(vec_col, num_planes).alias("bucket"),
    )


def incremental_srp_pairs(
    new_index: DataFrame,
    committed_index: DataFrame | None,
    *,
    min_cos: float = 0.0,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs for an INCREMENTAL ingest: every pair has a
    NEW endpoint — new-vs-committed and new-vs-new, never committed-vs-
    committed (mirror of dedup.incremental_minhash_pairs; at 10^12 vectors
    re-pairing the corpus per batch is the non-starter). Inputs are
    srp_index frames built with the same num_planes. This single-bucket
    formulation is the ORACLE-PARITY surface (the incremental_srp_pairs
    gate replays it in SQL); the pipeline sidecar pairs banded SRP keys
    with the numpy kernels committed_srp_flip_ids and
    srp_batch_pairs_matmul, whose collision/cost behavior at scale is
    measured in BASELINE.md.

    Plan shape: dedup.bucket_pairs — the committed side semi-joins against
    only the BATCH's bucket keys (so a bucket-partitioned committed index
    prunes files); vectors rejoin for exact-cosine verification on
    surviving candidates only. Unlike minhash there is one bucket per
    vector, so no candidate dedup pass is needed. Returns (id_a, id_b,
    bucket, cos_sim, committed_side) where committed_side marks
    new-vs-committed pairs (the keep-first ingest policy drops the NEW doc
    in that case)."""
    vecs = new_index.select("id", "v")
    if committed_index is not None:
        vecs = vecs.unionByName(committed_index.select("id", "v"))
    cand = bucket_pairs(new_index, committed_index, ["bucket"], max_bucket)
    return (
        _with_vectors(cand, vecs)
        .withColumn("cos_sim", F.round(cosine_col("v_a", "v_b"), 6))
        .filter(F.col("cos_sim") >= min_cos)
        .select("id_a", "id_b", "bucket", "cos_sim", "committed_side")
    )


def srp_band_table(
    index: DataFrame,
    num_planes: int = 16,
    num_bands: int = 8,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """Banded SRP keys: one (id, band, bucket) row per band, each band's
    bucket drawn from a DISJOINT hyperplane family (planes
    [band*num_planes, (band+1)*num_planes)). The multi-band OR is what
    makes SRP near-dedup survive scale: a SINGLE 2^8-bucket key collides
    random docs at rate N/256 (candidate verification cost grows linearly
    with a steep slope — measured in BASELINE.md), while B bands of P
    planes collide at B*N/2^P with near-twin recall 1-(1-m)^B for
    per-band match probability m = (1 - theta/pi)^P. At P=16, B=8 and
    cosine 0.995 that is ~0.9997 recall with 256x fewer random
    collisions per band. Pure function of the vector — a derived cache
    rebuildable by projection, never by re-encoding (the minhash band
    table's contract). Single pass: one array-of-structs explode."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                srp_bucket_col(
                    vec_col, num_planes, plane_offset=b * num_planes
                ).alias("bucket"),
            )
            for b in range(num_bands)
        ]
    )
    return index.select(
        F.col(id_col).alias("id"), F.explode(bands).alias("_bb")
    ).select("id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))


def incremental_srp_band_pairs(
    new_index: DataFrame,
    new_bands: DataFrame,
    committed_index: DataFrame | None,
    committed_bands: DataFrame | None,
    *,
    min_cos: float = 0.0,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-SRP near-dup pairs for an INCREMENTAL ingest: candidates
    share ANY (band, bucket) key with a new doc — new-vs-committed and
    new-vs-new only, never committed-vs-committed. Index frames are
    (id, v); band frames are srp_band_table output built with identical
    (num_planes, num_bands). Plan shape: dedup.bucket_pairs (the committed
    band side semi-joins against only the BATCH's (band, bucket) keys),
    multi-band duplicate candidates collapse BEFORE the vectors rejoin, and
    exact cosine verifies only surviving candidates.

    max_bucket exists for ANN-style uses; the near-dedup sidecar
    deliberately does NOT set it — the hottest band buckets hold exactly
    the most-duplicated content, which is what near-dedup must not skip
    (cost there is genuine work, bounded per batch by the new side).
    Returns (id_a, id_b, cos_sim, committed_side).

    This is the full-enumeration REFERENCE: the sidecar runs the numpy
    kernels committed_srp_flip_ids (vs-committed flips) and
    srp_batch_pairs_matmul (new-vs-new edges), and pytest pins both
    against this function's pair set — which is why it stays."""
    cand = (
        bucket_pairs(new_bands, committed_bands, ["band", "bucket"], max_bucket)
        .select("id_a", "id_b", "committed_side")
        # multi-band duplicates collapse BEFORE the (wide) vector rejoin
        .distinct()
    )
    vecs = new_index.select("id", "v")
    if committed_index is not None:
        vecs = vecs.unionByName(committed_index.select("id", "v"))
    return (
        _with_vectors(cand, vecs)
        # numpy-vectorized verification: on boilerplate-heavy corpora the
        # candidate set is dominated by genuinely-similar (cos 0.8-0.99)
        # pairs LSH correctly surfaces, and the interpreted SQL fold costs
        # ~0.3 ms per pair — measured as the dominant ingest cost
        # (BASELINE.md). One Arrow batch matmul replaces it.
        .withColumn("cos_sim", cosine_pairs_udf()(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos_sim") >= min_cos)
        .select("id_a", "id_b", "cos_sim", "committed_side")
    )


def _band_vectors(bands: DataFrame, index: DataFrame) -> DataFrame:
    """(id, band, bucket, v): band rows rejoin their vectors — ONE join,
    linear in bucket membership; the row set both numpy kernels group by
    (band, bucket)."""
    return bands.select("id", "band", "bucket").join(index.select("id", "v"), "id")


def _cos_block(a, an, c, cn):
    """Cosine block a x c (rows of vectors, an/cn their norms) rounded to
    6 dp like cosine_pairs_udf — the threshold decision of both numpy
    kernels must match the full-enumeration path bit-for-bit."""
    import numpy as np

    scores = a @ c.T
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.round(scores / (an[:, None] * cn[None, :]), 6)


def _block_pairs(ids, vectors, min_cos: float, chunk: int) -> pd.DataFrame:
    """(id_a, id_b, cos_sim) with id_a < id_b for every pair of one bucket's
    members whose _cos_block score clears min_cos: the bucket's pairwise
    block as chunked matmuls, self-pairs dropped, one row per pair."""
    import numpy as np

    v = np.asarray(vectors, dtype=np.float64)
    n = np.linalg.norm(v, axis=1)
    out_a, out_b, out_c = [], [], []
    for s in range(0, v.shape[0], chunk):
        scores = _cos_block(v, n, v[s : s + chunk], n[s : s + chunk])
        ri, ci = np.nonzero(scores >= min_cos)
        ci_g = ci + s  # global column index
        keep = ri != ci_g  # drop self-pairs
        ri, ci_g = ri[keep], ci_g[keep]
        if ri.size:
            a_ids, b_ids = ids[ri], ids[ci_g]
            swap = a_ids > b_ids
            out_a.append(np.where(swap, b_ids, a_ids))
            out_b.append(np.where(swap, a_ids, b_ids))
            out_c.append(scores[ri, ci_g - s])
    if not out_a:
        return pd.DataFrame(
            {
                "id_a": pd.Series([], dtype=object),
                "id_b": pd.Series([], dtype=object),
                "cos_sim": pd.Series([], dtype=float),
            }
        )
    return pd.DataFrame(
        {
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cos_sim": np.concatenate(out_c),
        }
    ).drop_duplicates(["id_a", "id_b"])


def first_hits(a, c, min_cos: float, chunk: int = 4096):
    """Boolean mask over the rows of `a` (vectors): True where some row of
    `c` scores _cos_block >= min_cos. `c` is scanned in `chunk`-row slices
    and a row stops being scored at its first hit (the vs-committed kernel
    of committed_srp_flip_ids)."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    c = np.asarray(c, dtype=np.float64)
    an = np.linalg.norm(a, axis=1)
    cn = np.linalg.norm(c, axis=1)
    hits = np.zeros(len(a), dtype=bool)
    live = np.arange(len(a))
    for s in range(0, c.shape[0], chunk):
        if live.size == 0:
            break
        scores = _cos_block(a[live], an[live], c[s : s + chunk], cn[s : s + chunk])
        h = (scores >= min_cos).any(axis=1)
        hits[live[h]] = True
        live = live[~h]
    return hits


def local_srp_pairs(ids, vectors, keys, *, min_cos: float, chunk: int = 4096) -> set:
    """Driver twin of srp_batch_pairs_matmul: the (id_a, id_b) pairs that
    share a (band, bucket) and clear min_cos in that bucket's block
    (_block_pairs, the same kernel). `keys` holds each row's
    srp_band_buckets_udf buckets in band order."""
    import numpy as np

    ids = np.asarray(ids, dtype=object)
    out = set()
    for rows in local_buckets(keys).values():
        if len(rows) > 1:
            pairs = _block_pairs(ids[rows], [vectors[r] for r in rows], min_cos, chunk)
            out.update(zip(pairs["id_a"], pairs["id_b"]))
    return out


def srp_batch_pairs_matmul(
    index: DataFrame,
    bands: DataFrame,
    *,
    min_cos: float,
    chunk: int = 4096,
) -> DataFrame:
    """Within-batch near-dup pairs (id_a, id_b, cos_sim) with id_a < id_b
    and round(cos, 6) >= min_cos — the new-vs-new edge set cluster
    resolution needs, produced the committed_srp_flip_ids way: band rows
    rejoin their vectors (ONE join, linear in bucket membership), shuffle
    once by (band, bucket), and each bucket computes its pairwise cosine
    block as chunked numpy matmuls inside applyInPandas, emitting only the
    pairs that clear the threshold.

    Pair-set-identical to incremental_srp_band_pairs(index, bands, None,
    None, min_cos=...) (pinned by pytest): same 6-dp rounding before the
    threshold. Duplicates across bands collapse in the final
    dropDuplicates on (id_a, id_b) — NOT on the cosine too: the same pair
    is recomputed per colliding band by differently-shaped BLAS blocks
    (different bucket membership/chunk geometry), so the two values can
    differ in the last ulp pre-rounding; keying the dedup on the ids alone
    makes the pair set deterministic while cos_sim is one representative
    rounded value (threshold-exact — every copy cleared min_cos). What
    changes vs enumerate-then-join is the cost shape: that form
    materialized every bucket co-member pair and shuffled each with TWO
    ~0.5 KB vectors attached (measured 2M candidate rows / ~2 GB of
    shuffled vector payload for a 3.5k-doc template-heavy batch); here the
    shuffle carries one vector per band row and pairs above threshold are
    the only rows that ever exist. A one-row group cannot hold a pair: a
    window count drops it in the JVM, and since the window hash-partitions
    and sorts by (band, bucket) — what the groupBy-applyInPandas needs —
    it reuses that exchange (on a 200-doc batch nearly all of ~1600
    groups hold one row, each one pandas call otherwise). Per-group memory: the bucket's
    vectors plus one m x `chunk` score block. Output id columns keep the
    index's id type."""
    id_type = index.schema["id"].dataType.simpleString()

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        return _block_pairs(pdf["id"].to_numpy(), pdf["v"].tolist(), min_cos, chunk)

    return (
        _band_vectors(bands, index)
        .withColumn("_n", F.count("*").over(Window.partitionBy("band", "bucket")))
        .filter("_n >= 2")
        .drop("_n")
        .groupBy("band", "bucket")
        .applyInPandas(_pairs, f"id_a {id_type}, id_b {id_type}, cos_sim double")
        .dropDuplicates(["id_a", "id_b"])
    )


def committed_srp_flip_ids(
    new_index: DataFrame,
    new_bands: DataFrame,
    committed_index: DataFrame,
    committed_bands: DataFrame,
    *,
    min_cos: float,
    chunk: int = 4096,
) -> DataFrame:
    """Newcomer ids with >= 1 committed near-twin (cosine >= min_cos) — the
    vs-COMMITTED half of the incremental near-dedup decision. EXACTLY the
    flip set full pair enumeration produces (pinned by pytest), but the
    pair rows are never materialized: on boilerplate-heavy corpora the
    hottest (band, bucket) keys hold thousands of new AND committed
    members, so enumerating (new, committed) candidates is a
    new-x-committed blowup per bucket that grows linearly with committed
    occupancy (VERDICT r4's one perf-weak flag; profiled at 14.6M -> 57.8M
    candidate rows and 42 -> 216 s as committed grew 1x -> 4x — the
    row-level aggregation WAS the cost, not cosine arithmetic).

    Shape: band rows rejoin their vectors (linear in bucket membership,
    ~0.5 KB/row), shuffle ONCE by (band, bucket), and each bucket group
    computes its new-x-committed cosine block as numpy matmuls inside one
    applyInPandas pass — the committed side in `chunk`-column slices with
    rows (newcomers) dropped from later slices once they hit (first-hit
    early exit; on dup-heavy data most newcomers resolve in slice one).
    A pair sharing several bands is recomputed per band: a redundant
    matmul row costs ~ns while deduplicating pairs costs the shuffle this
    function exists to avoid. Per-group memory: the bucket's VECTORS
    (~0.5 KB each — a million-member hot bucket is ~0.5 GB, one task)
    plus one `chunk`-column slice of the score block; the early-exit row
    masking means dup-heavy newcomers rarely scan past the first slice,
    so the flops bound tracks genuine near-dup density, not corpus size.
    Buckets beyond executor memory are the LSH-degeneracy regime the
    occupancy telemetry (band_occupancy) exists to surface — raise
    num_planes there rather than capping recall silently.

    new-vs-new pairs are NOT this function's job: cluster resolution needs
    the full edge set, which srp_batch_pairs_matmul emits (both kernels
    are pinned against incremental_srp_band_pairs, the full-enumeration
    reference). Inputs are (id, v) index frames and srp_band_table band
    frames; committed_bands should already be pruned to the batch's
    bucket prefixes. Only groups holding at least one new AND one
    committed row reach pandas: committed rows semi-join the batch's keys
    and new rows semi-join the surviving committed keys, so the new-only
    groups — nearly all of them — cost no pandas call. On a 200-doc
    sidecar batch (4 vCPUs at local[3]) the call and its collect ran 10
    Spark jobs in ~2 s, most of them the AQE stages of those semi-joins.
    The sidecars do not call it: snapshots._committed_pass runs the same
    first-hit kernel (first_hits) in 3 jobs. perfbench/walk.py times it
    as the Spark vs-committed step, and tests pin it against
    incremental_srp_band_pairs. Not srp_batch_pairs_matmul's window
    count: this plan stays free of Window operators (test_plans pins the
    no-pair-ranking shape). Returns a single-column (new_id)
    DataFrame, eagerly materialized via localCheckpoint (caller frees with
    free_local_checkpoints once its drop set is materialized)."""
    keys = ["band", "bucket"]
    committed = committed_bands.join(new_bands.select(*keys).distinct(), keys, "left_semi")
    new = new_bands.join(committed.select(*keys).distinct(), keys, "left_semi")
    rows = (
        _band_vectors(new, new_index)
        .withColumn("_new", F.lit(True))
        .unionByName(
            _band_vectors(committed, committed_index).withColumn("_new", F.lit(False))
        )
    )

    def _flip(pdf: pd.DataFrame) -> pd.DataFrame:
        new_mask = pdf["_new"].to_numpy()
        a_ids = pdf.loc[new_mask, "id"].to_numpy()
        hits = first_hits(
            pdf.loc[new_mask, "v"].tolist(), pdf.loc[~new_mask, "v"].tolist(), min_cos, chunk
        )
        return pd.DataFrame({"new_id": a_ids[hits]})

    return (
        rows.groupBy("band", "bucket")
        .applyInPandas(_flip, "new_id string")
        .distinct()
        .localCheckpoint()
    )


# band_occupancy's top-K: the hottest keys a batch's lineage records
OCCUPANCY_TOP_K = 20


def band_occupancy(
    bands: DataFrame,
    committed_bands: DataFrame | None,
    *,
    band_col: str = "band",
    bucket_col: str = "bucket",
    top_k: int = OCCUPANCY_TOP_K,
) -> DataFrame:
    """Top-K hottest (band, bucket) keys a batch touches, split into new vs
    committed membership — the no-silent-caps telemetry for LSH degeneracy
    (VERDICT r4 item 5): `max_bucket` silently excludes degenerate buckets
    on the capped paths, and the deliberately-UNCAPPED near-dedup sidecars
    had no visibility into committed bucket growth. One slim groupBy over
    band rows already in hand; commit the result as the band-table
    snapshot's LINEAGE so occupancy history rides the store and the bench
    can surface the per-round trend. Returns (band, bucket, n_new,
    n_committed, n_total) ordered hottest-first."""
    b = bands.select(
        F.col(band_col).alias("band"),
        F.col(bucket_col).alias("bucket"),
        F.lit(1).alias("_new"),
        F.lit(0).alias("_com"),
    )
    if committed_bands is not None:
        b = b.unionByName(
            committed_bands.select(
                F.col(band_col).alias("band"),
                F.col(bucket_col).alias("bucket"),
                F.lit(0).alias("_new"),
                F.lit(1).alias("_com"),
            )
        )
    return (
        b.groupBy("band", "bucket")
        .agg(
            F.sum("_new").cast("long").alias("n_new"),
            F.sum("_com").cast("long").alias("n_committed"),
        )
        .withColumn("n_total", F.col("n_new") + F.col("n_committed"))
        .orderBy(F.desc("n_total"), "band", "bucket")
        .limit(top_k)
    )


def cosine_pairs_udf():
    """Factory for a batch-cosine pandas UDF over aligned vector pairs
    (row-wise einsum over the whole Arrow batch; ~1000x the interpreted
    SQL fold). A factory, not a module-level UDF: @pandas_udf parses its
    DDL at decoration time and would demand an active SparkContext at
    import. Rounded to 6 dp like cosine_col; note np.round is half-even
    where Spark's round is half-away — irrelevant for threshold filters,
    so callers needing an engine-exact oracle twin use cosine_col."""

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        a = np.asarray(va.tolist(), dtype=np.float64)
        b = np.asarray(vb.tolist(), dtype=np.float64)
        dots = np.einsum("ij,ij->i", a, b)
        norms = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.round(dots / norms, 6)
        return pd.Series(out)

    return _cos


def srp_band_buckets_udf(num_planes: int, num_bands: int):
    """Factory: Arrow-batched pandas UDF computing ALL band buckets for a
    vector column in one numpy matmul — the production path for banded-SRP
    sidecars. The SQL form (srp_band_table) evaluates
    num_bands*num_planes*dim interpreted lambda steps PER ROW (~8k at
    16x8x64 — measured as the dominant ingest cost, BASELINE.md); here the
    same hyperplane family (srp_weight_expr's integer LCG, identical
    constants) is a (bands*planes, dim) weight matrix applied to the whole
    Arrow batch at once. Sign equality with the SQL fold holds whenever a
    plane dot is not within float-summation noise of zero (pytest pins
    equivalence on random vectors); an index must be built and rebuilt
    through ONE implementation either way — this one."""
    import numpy as np

    total = num_bands * num_planes
    cache: dict[int, "np.ndarray"] = {}

    def weights(dim: int) -> "np.ndarray":
        w = cache.get(dim)
        if w is None:
            planes = np.arange(total, dtype=np.int64)[:, None]
            dims = np.arange(dim, dtype=np.int64)[None, :]
            w = (
                (1103515245 * (dims + 7919 * planes) + 12345) % 1000
            ).astype(np.float64) / 999.0 - 0.5
            cache[dim] = w
        return w

    shifts = (1 << np.arange(num_planes, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def _buckets(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in it:
            vals = series.tolist()
            if not vals:
                yield pd.Series([], dtype=object)
                continue
            mat = np.asarray(vals, dtype=np.float64)
            bits = (mat @ weights(mat.shape[1]).T) > 0  # n x (bands*planes)
            out = [
                [
                    int((row[b * num_planes : (b + 1) * num_planes] * shifts).sum())
                    for b in range(num_bands)
                ]
                for row in bits
            ]
            yield pd.Series(out)

    return _buckets
