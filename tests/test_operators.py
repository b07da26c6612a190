"""Operator-level unit tests (dedup/similarity/boilerplate internals) that
the gate catalog exercises only end-to-end."""
from __future__ import annotations

import random
import string

import pandas as pd
import pytest


def test_simhash_vectorized_matches_spec():
    """_simhash_batch (numpy path) is bit-identical to simhash64 (the
    readable spec), including empty strings and nulls."""
    from puddin_spark.operators.dedup import _simhash_batch, simhash64

    random.seed(7)
    texts: list[str | None] = ["", "one", "the quick brown fox", None]
    for _ in range(300):
        n = random.randint(0, 60)
        texts.append(
            " ".join(
                "".join(random.choices(string.ascii_lowercase, k=random.randint(1, 10)))
                for _ in range(n)
            )
        )
    vec = _simhash_batch(pd.Series(texts))
    for t, v in zip(texts, vec):
        if t is None:
            assert pd.isna(v)
        else:
            assert v == simhash64(t)


def test_boilerplate_fully_boilerplate_doc_retained(spark):
    """A document whose every line is boilerplate still gets an output row
    (clean_text='', n_lines_kept=0) — no docs silently vanish."""
    from puddin_spark.operators.boilerplate import remove_boilerplate_lines

    rows = [
        (1, "unique one\nsubscribe now"),
        (2, "unique two\nsubscribe now"),
        (3, "unique three\nsubscribe now"),
        (4, "subscribe now"),  # all-boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: (r["clean_text"], r["n_lines_kept"])
        for r in remove_boilerplate_lines(df, "doc_id", "text", min_docs=3).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[4] == ("", 0)
    assert out[1] == ("unique one", 1)


def test_ivf_kmeans_recall_beats_first_n_seeding(spark):
    """On clustered embeddings (the case IVF exists for), k-means-trained
    centroids give higher recall@k vs brute force than naive first-N
    seeding, whose centroids all come from one cluster. (On isotropic
    random vectors cell structure is meaningless and neither seeding is
    reliably better — hence clustered data here.)"""
    import random

    from puddin_spark.operators import similarity

    random.seed(11)
    centers = [[random.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(40):
            rows.append((vid, [x + random.gauss(0, 0.05) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id % 40 < 3")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }

    def recall(cents):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(emb, q, k=5, nprobe=2, centroids=cents).collect()
        }
        return len(got & truth) / len(truth)

    first_n = [
        (i + 1, [float(x) for x in r.embedding])
        for i, r in enumerate(emb.orderBy("vec_id").limit(8).collect())
    ]
    trained = similarity.train_centroids(emb, n_centroids=8, iters=3)
    assert recall(trained) > recall(first_n)
    assert recall(trained) >= 0.99


def test_train_centroids_deterministic(spark):
    """Same input -> bit-identical centroids across invocations (the gate
    oracle depends on this; double-sum order is neutralized by the
    fixed-point integer means)."""
    from puddin_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    a = similarity.train_centroids(emb, n_centroids=4, iters=2)
    b = similarity.train_centroids(emb, n_centroids=4, iters=2)
    assert a == b


def test_ngram_jaccard_requires_blocking(spark):
    """The quadratic no-block path fails at plan time unless explicitly
    opted into (footgun guard)."""
    import pytest

    from puddin_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="quadratic"):
        ngram_jaccard_pairs(df, "doc_id", "text")
    out = ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, threshold=0.3, allow_quadratic=True
    ).collect()
    assert len(out) == 1


def test_simhash_cache_reuse_is_transparent():
    """Second batch with overlapping vocab (cache hits) gives same hashes."""
    from puddin_spark.operators.dedup import _simhash_batch

    a = _simhash_batch(pd.Series(["alpha beta gamma", "beta gamma delta"]))
    b = _simhash_batch(pd.Series(["alpha beta gamma", "beta gamma delta"]))
    assert list(a) == list(b)


def test_minhash_xxhash64_path_matches_md5_pairs(spark):
    """The production hash path (xxhash64, one JVM hash per shingle) finds
    the same verified near-dup pairs as the portable md5 path: candidates
    may differ per hash family, but exact-Jaccard verification makes the
    final pair set hash-family-independent whenever LSH recall holds — and
    on the calibrated mutant corpus (word-3gram jaccard ~0.9 mutant vs
    ~0.008 random) both families must recall every mutant pair."""
    from pyspark.sql import functions as F

    from puddin_spark.operators.dedup import minhash_lsh_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    both = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" extra tail words here")).alias("text"),
        )
    )
    kw = dict(num_hashes=16, band_size=2, shingle_k=3,
              jaccard_threshold=0.5, shingle_mode="word")
    md5_pairs = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(both, "doc_id", "text", **kw).collect()
    }
    xx_pairs = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            both, "doc_id", "text", hash_impl="xxhash64", **kw
        ).collect()
    }
    assert md5_pairs == xx_pairs
    # every mutant pairs with its source (the corpus also has a few organic
    # near-dup texts; those must appear under both hash families too)
    mutant_pairs = {(a, b) for a, b, _ in md5_pairs if b == a + 1000000}
    assert len(mutant_pairs) == 120

    import pytest

    with pytest.raises(ValueError):
        minhash_lsh_pairs(both, "doc_id", "text", hash_impl="sha1", **kw)


def test_multimodal_frame_embed_plumbing(spark):
    """Two media plumbing shapes: row-multiplying frame sampling (with tail
    frame) and binary->embedding feature extraction composing with the
    similarity operators (equal media -> cosine 1.0 near-dup pair)."""
    from puddin_spark.operators.multimodal import embed_media, sample_frames
    from puddin_spark.operators.similarity import srp_candidate_pairs

    media = spark.createDataFrame(
        [(1, b"a" * 600), (2, b"b" * 256), (3, b"a" * 600), (4, None)],
        "doc_id bigint, media binary",
    )

    # frames: 600 bytes -> 3 frames (256, 256, 88-byte tail); every_n=1
    fr = sample_frames(media, frame_bytes=256).collect()
    by_doc = {}
    for r in fr:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 3 and len(by_doc[2]) == 1
    assert 4 not in by_doc  # null media contributes no rows
    tail = sorted(by_doc[1], key=lambda r: r.frame_ix)[-1]
    assert tail.ts_ms == 80 and len(bytes(tail.frame)) == 600 - 512
    # every_n=2 keeps frames 0 and 2
    fr2 = sample_frames(media, frame_bytes=256, every_n=2).collect()
    assert sorted(r.frame_ix for r in fr2 if r.doc_id == 1) == [0, 2]

    # embed: equal media -> identical embeddings -> exact-duplicate pair
    emb = embed_media(media.filter("media is not null"), dim=16)
    pairs = srp_candidate_pairs(emb, min_cos=0.999).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 3)}


def test_lsh_hot_bucket_guard(spark):
    """max_bucket drops degenerate buckets from pair generation: char
    shingles on this word-soup corpus collapse many docs into identical
    minhash bands (the observed quadratic footgun), so capping bucket size
    must cut candidate pairs while uncapped keeps exact LSH semantics."""
    from pyspark.sql import functions as F

    from puddin_spark.operators.dedup import minhash_lsh_pairs
    from puddin_spark.operators.similarity import srp_candidate_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(80)
    )
    kw = dict(num_hashes=16, band_size=2, shingle_k=5,
              jaccard_threshold=0.0, shingle_mode="char")
    uncapped = minhash_lsh_pairs(docs, "doc_id", "text", **kw).count()
    capped = minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=4, **kw).count()
    assert uncapped > capped  # hot char-shingle buckets really exist here

    # word shingles don't degenerate: a generous cap changes nothing
    kw2 = dict(num_hashes=16, band_size=2, shingle_k=3,
               jaccard_threshold=0.5, shingle_mode="word")
    base = {(r.id_a, r.id_b) for r in
            minhash_lsh_pairs(docs, "doc_id", "text", **kw2).collect()}
    same = {(r.id_a, r.id_b) for r in
            minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=1000, **kw2).collect()}
    assert base == same

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    all_pairs = srp_candidate_pairs(emb).count()
    few = srp_candidate_pairs(emb, max_bucket=2).count()
    assert few < all_pairs


def test_describe_approx_sketch_matches_exact_within_rank_error(spark):
    """The approx (bounded-memory sketch) describe path tracks the exact
    path: identical schema, exact fields identical, quantiles within the
    sketch's rank-error bound at accuracy=10000 on 500 values (tight)."""
    from puddin_spark.stats import describe_numeric

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {r.lang: r for r in describe_numeric(docs, "n_chars", ["lang"]).collect()}
    approx = {r.lang: r for r in
              describe_numeric(docs, "n_chars", ["lang"], approx=True).collect()}
    assert exact.keys() == approx.keys()
    for lang, e in exact.items():
        a = approx[lang]
        assert (a.n, a.mean_n_chars, a.min_n_chars, a.max_n_chars, a.sd_n_chars) == (
            e.n, e.mean_n_chars, e.min_n_chars, e.max_n_chars, e.sd_n_chars
        )
        for f in ("p25_n_chars", "median_n_chars", "p75_n_chars"):
            # rank error <= 1/accuracy -> at most the adjacent order stat;
            # value tolerance: the observed spread of neighboring n_chars
            assert abs(getattr(a, f) - getattr(e, f)) <= 30, (lang, f)


def test_resolve_duplicate_clusters_transitive(spark):
    """Chained pairs resolve to one cluster (transitivity) with min-id
    roots."""
    from puddin_spark.operators.dedup import resolve_duplicate_clusters

    pairs = spark.createDataFrame(
        # chain 5-3-9-7 (one cluster, root 3); pair (20, 21)
        [(5, 3), (9, 5), (9, 7), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    roots = {r.id: r.root for r in resolve_duplicate_clusters(pairs).collect()}
    assert roots == {3: 3, 5: 3, 7: 3, 9: 3, 20: 20, 21: 20}


def test_resolve_clusters_diameter_bound(spark):
    """A chain longer than max_iterations raises instead of silently
    returning a half-merged clustering."""
    import pytest

    from puddin_spark.operators.dedup import resolve_duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        resolve_duplicate_clusters(chain, max_iterations=2)
    roots = resolve_duplicate_clusters(chain, max_iterations=20).collect()
    assert all(r.root == 0 for r in roots)


def test_union_find_matches_spark_cluster_resolution(spark):
    """The sidecars' driver-side union-find yields the same (id, root)
    mapping as resolve_duplicate_clusters on seeded random graphs —
    sparse, clique-heavy, self-looped and duplicated edges, string ids —
    and, unlike the Spark path, resolves a chain longer than
    max_iterations."""
    import random

    import pytest

    from puddin_spark.operators.dedup import (
        resolve_duplicate_clusters,
        union_find_min_roots,
    )

    for seed in range(4):
        rng = random.Random(seed)
        nodes = [f"d{rng.randrange(10**6):07d}" for _ in range(rng.randint(20, 60))]
        edges = [tuple(rng.sample(nodes, 2)) for _ in range(rng.randint(5, 50))]
        edges += [(a, a) for a in rng.sample(nodes, 2)]
        edges += edges[:3]
        local = union_find_min_roots(edges)
        pairs = spark.createDataFrame(edges, "id_a string, id_b string")
        remote = {r.id: r.root for r in resolve_duplicate_clusters(pairs).collect()}
        assert local == remote, seed

    chain = [(i, i + 1) for i in range(12)]
    with pytest.raises(RuntimeError, match="did not converge"):
        resolve_duplicate_clusters(
            spark.createDataFrame(chain, "id_a bigint, id_b bigint"), max_iterations=2
        )
    assert union_find_min_roots(chain) == {i: 0 for i in range(13)}
    assert union_find_min_roots(reversed(chain)) == {i: 0 for i in range(13)}


def test_incremental_minhash_pairs(spark):
    """Incremental ingest dedup: pairs touch at least one NEW doc — the
    committed corpus is never re-paired against itself; committed_side
    marks pairs where keep-first must drop the new doc."""
    from pyspark.sql import functions as F

    from puddin_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_index, minhash_lsh_pairs,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    committed = docs.filter("doc_id < 40")
    # new batch: 20 fresh docs + mutants of 10 COMMITTED docs + 1 pair of
    # mutants of the same committed doc (new-vs-new near-dup)
    mut = committed.filter("doc_id < 10").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail words here")).alias("text"),
    )
    mut2 = committed.filter("doc_id = 0").select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail tokens here")).alias("text"),
    )
    new = docs.filter("doc_id >= 40").unionByName(mut).unionByName(mut2)

    kw = dict(num_hashes=16, shingle_k=3, shingle_mode="word")
    ci = minhash_index(committed, **kw)
    ni = minhash_index(new, **kw)
    pairs = incremental_minhash_pairs(
        ni, ci, band_size=2, jaccard_threshold=0.5
    ).collect()

    new_ids = {r.doc_id for r in new.collect()}
    assert pairs, "mutants must pair with their committed sources"
    for p in pairs:
        assert p.id_a in new_ids or p.id_b in new_ids  # no committed-vs-committed
    cross = {(p.id_a, p.id_b) for p in pairs if p.committed_side}
    assert (0, 1000000) in cross and (0, 2000000) in cross
    assert all((a, b) for a, b in cross)
    new_new = {(p.id_a, p.id_b) for p in pairs if not p.committed_side}
    assert (1000000, 2000000) in new_new  # two mutants of the same source

    # equivalence check: incremental pairs == full-corpus pairs minus the
    # committed-vs-committed ones (same minhash scheme end to end)
    full = minhash_lsh_pairs(
        committed.unionByName(new), "doc_id", "text",
        num_hashes=16, band_size=2, shingle_k=3,
        jaccard_threshold=0.5, shingle_mode="word",
    ).collect()
    want = {
        (p.id_a, p.id_b, p.jaccard) for p in full
        if p.id_a in new_ids or p.id_b in new_ids
    }
    got = {(p.id_a, p.id_b, p.jaccard) for p in pairs}
    assert got == want

    # the hot-bucket cap guards the incremental path too: it counts each
    # bucket's full (new + committed) membership, so capped incremental
    # pairs equal capped full-corpus pairs with >= 1 new endpoint
    for cap in (3, 2):
        full_c = minhash_lsh_pairs(
            committed.unionByName(new), "doc_id", "text",
            num_hashes=16, band_size=2, shingle_k=3,
            jaccard_threshold=0.5, shingle_mode="word", max_bucket=cap,
        ).collect()
        want_c = {
            (p.id_a, p.id_b, p.jaccard) for p in full_c
            if p.id_a in new_ids or p.id_b in new_ids
        }
        got_c = {
            (p.id_a, p.id_b, p.jaccard)
            for p in incremental_minhash_pairs(
                ni, ci, band_size=2, jaccard_threshold=0.5, max_bucket=cap
            ).collect()
        }
        assert got_c == want_c, f"max_bucket={cap}: {got_c ^ want_c}"
        assert len(want_c) < len(want), f"max_bucket={cap} must drop pairs"


def test_resolve_clusters_frees_round_checkpoints(spark):
    """Iterative label propagation must not leak one checkpoint per round:
    after convergence at most the FINAL round's blocks remain persisted, and
    free_local_checkpoints releases those too (ADVICE r2)."""
    from puddin_spark.operators.dedup import (
        free_local_checkpoints,
        resolve_duplicate_clusters,
    )

    sc = spark.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    # a 13-node chain: needs several propagation rounds to converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    res = resolve_duplicate_clusters(pairs)
    rows = res.collect()
    assert len(rows) == 13 and all(r.root == 0 for r in rows)
    new_ids = [
        i for i in sc._jsc.sc().getRDDStorageInfo() if i.id() not in before
    ]
    assert len(new_ids) <= 1, [i.name() for i in new_ids]
    free_local_checkpoints(res)
    new_ids = [
        i for i in sc._jsc.sc().getRDDStorageInfo() if i.id() not in before
    ]
    assert not new_ids


def test_incremental_srp_pairs_matches_full(spark):
    """Incremental SRP pair generation must equal the full-corpus pair set
    restricted to pairs with >= 1 new endpoint (same guarantee as the
    minhash twin: never re-pairs the committed corpus, loses nothing)."""
    from puddin_spark.operators.similarity import (
        incremental_srp_pairs,
        srp_candidate_pairs,
        srp_index,
    )

    def vecs(start, end, mutate=None):
        df = spark.range(start, end).selectExpr(
            "id as vec_id",
            "transform(sequence(0, 15), d -> cast((pmod(xxhash64(id, d), 1000)"
            " - 500) as double) / 500.0) as embedding",
        )
        if mutate:
            df = df.selectExpr(
                "vec_id + 100000 as vec_id",
                f"transform(embedding, x -> x * {mutate}) as embedding",
            )
        return df

    committed = vecs(0, 150)
    new = vecs(0, 30, mutate="1.001").unionByName(vecs(150, 170))
    both = committed.unionByName(new)
    full = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in srp_candidate_pairs(both, min_cos=0.2).collect()
    }
    committed_ids = {r.vec_id for r in committed.collect()}
    expected = {
        (a, b, c)
        for (a, b, c) in full
        if not (a in committed_ids and b in committed_ids)
    }
    inc = incremental_srp_pairs(
        srp_index(new), srp_index(committed), min_cos=0.2
    ).collect()
    got = {(r.id_a, r.id_b, r.cos_sim) for r in inc}
    assert got == expected and len(got) > 0
    for r in inc:
        assert r.committed_side == (
            r.id_a in committed_ids or r.id_b in committed_ids
        )

    # capped: incremental == capped full-corpus pairs with >= 1 new endpoint
    for cap in (4, 2):
        want_c = {
            (r.id_a, r.id_b, r.cos_sim)
            for r in srp_candidate_pairs(both, min_cos=0.2, max_bucket=cap).collect()
            if not (r.id_a in committed_ids and r.id_b in committed_ids)
        }
        got_c = {
            (r.id_a, r.id_b, r.cos_sim)
            for r in incremental_srp_pairs(
                srp_index(new), srp_index(committed), min_cos=0.2, max_bucket=cap
            ).collect()
        }
        assert got_c == want_c, f"max_bucket={cap}: {got_c ^ want_c}"
        assert len(want_c) < len(expected), f"max_bucket={cap} must drop pairs"


def test_keepdrop_confusion_counts_disagreements_and_gaps(spark):
    """Unit semantics of the north-rule F1 metric: the 2x2 cells, both
    coverage-gap counters, and the derived scores on a hand-built case."""
    from puddin_spark.metrics import keepdrop_confusion

    pred = spark.createDataFrame(
        [("a", True), ("b", True), ("c", False), ("d", False), ("x", True)],
        schema="url string, keep boolean",
    )
    truth = spark.createDataFrame(
        [("a", True), ("b", False), ("c", True), ("d", False), ("y", False)],
        schema="url string, keep boolean",
    )
    m = keepdrop_confusion(pred, truth).first().asDict()
    assert (m["tp"], m["fp"], m["fn"], m["tn"]) == (1, 1, 1, 1)
    assert m["n_pred_only"] == 1 and m["n_truth_only"] == 1
    assert m["n_null_truth"] == 0
    assert m["precision"] == 0.5 and m["recall"] == 0.5 and m["f1"] == 0.5


def test_keepdrop_f1_rejects_violated_preconditions(spark):
    """Duplicate pred keys (negative derived n_truth_only) and null truth
    labels fail loudly instead of reporting skewed metrics."""
    import pytest as _pytest

    from puddin_spark.metrics import keepdrop_f1

    truth = spark.createDataFrame(
        [("a", True)], schema="url string, keep boolean"
    )
    dup_pred = spark.createDataFrame(
        [("a", True), ("a", True)], schema="url string, keep boolean"
    )
    with _pytest.raises(ValueError, match="duplicate"):
        keepdrop_f1(dup_pred, truth)

    pred = spark.createDataFrame([("a", True)], "url string, keep boolean")
    null_truth = spark.createDataFrame(
        [("a", None)], schema="url string, keep boolean"
    )
    with _pytest.raises(ValueError, match="null"):
        keepdrop_f1(pred, null_truth)


def test_html_extract_binary_and_tag_guards(spark):
    """The input_hint html:binary path + the prefix-collision guards
    (<header> must not be swallowed by the <head> block drop)."""
    from puddin_spark.operators.html import extract_text_from_html

    rows = [
        # if <head(\s…)?> wrongly matched <header>, the drop would swallow
        # everything through </head>, including "kept"
        (1, "<header>Site</header><p>kept</p><head><title>x</title></head><p>after</p>".encode()),
        (2, "<head><title>chrome</title></head><body><p>content</p></body>".encode()),
        (3, "plain &amp; simple".encode()),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "i int, html binary")
    got = {
        r.i: r.t
        for r in df.select(
            "i", extract_text_from_html("html", from_binary=True).alias("t")
        ).collect()
    }
    assert got[1] == "Sitekept\n\nafter"  # header content survives the head drop
    assert got[2] == "content"
    assert got[3] == "plain & simple"
    assert got[4] is None


def test_html_extract_stays_in_codegen(spark):
    """The extraction chain is regexp/replace built-ins only — no Python
    evaluation node may appear (hot-path rule, SURVEY §2.3 design)."""
    from puddin_spark.operators.html import extract_text_from_html
    from puddin_spark.plans import executed_plan
    from puddin_spark.synth import synth_pages_local

    pages = synth_pages_local(spark, 30, include_fixtures=False).filter(
        "html is not null"
    )
    out = pages.select(
        "url", extract_text_from_html("html", from_binary=True).alias("t")
    )
    plan = executed_plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # synth html wraps a prefix of text in <html><body>...</body></html>
    row = out.first()
    assert row.t and "<" not in row.t


def test_url_canonicalize_edges(spark):
    """Spec edges: lone tracking param, tracking-first with successor,
    fragment-only, schemeless value, suffix-aware domains."""
    from puddin_spark.operators.urls import canonical_url, url_domain, url_host

    rows = [
        (1, "HTTP://EX.com/a?utm_source=x"),          # lone tracking param
        (2, "http://ex.com/a?utm_x=1&q=2"),            # tracking first, kept successor
        (3, "http://ex.com/a?q=2&fbclid=abc#frag"),    # tracking last + fragment
        (4, "not a url"),                              # schemeless passthrough
        (5, "https://User@Sub.Shop.CO.UK:443/P?q=1"),  # userinfo/port/suffix
        (6, "http://ex.com/a?gclid=z&utm_b=c"),        # all params tracking
    ]
    df = spark.createDataFrame(rows, "i int, u string")
    got = {
        r.i: (r.c, r.h, r.d)
        for r in df.select(
            "i",
            canonical_url("u").alias("c"),
            url_host("u").alias("h"),
            url_domain(url_host("u")).alias("d"),
        ).collect()
    }
    assert got[1][0] == "http://ex.com/a"
    assert got[2][0] == "http://ex.com/a?q=2"
    assert got[3][0] == "http://ex.com/a?q=2"
    assert got[4] == ("not a url", "", "")
    assert got[5] == (
        "https://user@sub.shop.co.uk:443/P?q=1",
        "sub.shop.co.uk",
        "shop.co.uk",
    )
    assert got[6][0] == "http://ex.com/a"


def test_url_domain_full_psl_semantics(spark, tmp_path):
    """publicsuffix.org algorithm on the embedded subset: longest-match
    multi-level suffixes, `*.parent` wildcards, `!` exceptions, degenerate
    suffix-only hosts — Spark and the mechanical DuckDB twin agree on
    every case."""
    import duckdb

    from puddin_spark.operators.urls import (
        duckdb_domain_sql,
        load_psl,
        url_domain,
    )

    cases = {
        "a.b.example.co.uk": "example.co.uk",   # 2-level suffix
        "deep.x.act.edu.au": "x.act.edu.au",    # 3-level beats edu.au
        "me.edu.au": "me.edu.au",               # 2-level when 3-level misses
        "bar.foo.ck": "bar.foo.ck",             # wildcard *.ck
        "foo.ck": "foo.ck",                     # host IS a wildcard suffix
        "sub.www.ck": "www.ck",                 # exception !www.ck
        "www.ck": "www.ck",
        "co.uk": "co.uk",                       # degenerate: suffix itself
        "a.b.c.d.example.org": "example.org",   # implicit default rule
        "plain": "plain",
        "": "",
    }
    df = spark.createDataFrame([(h,) for h in cases], "h string")
    got = {r.h: r.d for r in df.select("h", url_domain("h").alias("d")).collect()}
    assert got == cases
    con = duckdb.connect()
    con.execute("create table hosts(h varchar)")
    con.executemany("insert into hosts values (?)", [(h,) for h in cases])
    duck = {
        r[0]: r[1]
        for r in con.execute(
            f"select h, {duckdb_domain_sql('h')} as d from hosts"
        ).fetchall()
    }
    assert duck == cases

    # load-from-file seam: a real-format PSL file round-trips and both
    # engines compile the loaded rules identically
    psl = tmp_path / "psl.dat"
    psl.write_text(
        "// ===BEGIN ICANN DOMAINS===\n"
        "uk\nco.uk\n\n"
        "jp\n*.kobe.jp\n!city.kobe.jp\n"
        "us\nk12.ma.us\n"
    )
    rules = load_psl(str(psl))
    assert "co.uk" in rules.exact and "kobe.jp" in rules.wild
    assert "city.kobe.jp" in rules.exc
    fcases = {
        "x.y.kobe.jp": "x.y.kobe.jp",       # *.kobe.jp: y.kobe.jp is a suffix
        "a.city.kobe.jp": "city.kobe.jp",   # exception beats the wildcard
        "s.k12.ma.us": "s.k12.ma.us",       # 3-level exact
        "b.example.co.uk": "example.co.uk",
    }
    fdf = spark.createDataFrame([(h,) for h in fcases], "h string")
    fgot = {
        r.h: r.d
        for r in fdf.select("h", url_domain("h", rules=rules).alias("d")).collect()
    }
    assert fgot == fcases
    con.execute("create table fhosts(h varchar)")
    con.executemany("insert into fhosts values (?)", [(h,) for h in fcases])
    fduck = {
        r[0]: r[1]
        for r in con.execute(
            f"select h, {duckdb_domain_sql('h', rules=rules)} as d from fhosts"
        ).fetchall()
    }
    assert fduck == fcases


def test_domain_blocklist_covers_subdomains_and_broadcasts(spark):
    """A blocked registered domain removes every subdomain via the equi
    anti-join, and the plan must broadcast the blocklist side."""
    from puddin_spark.operators.urls import filter_by_domain_blocklist
    from puddin_spark.plans import executed_plan

    pages = spark.createDataFrame(
        [
            (1, "https://spam.example.com/x"),
            (2, "https://deep.cdn.spam.example.com/y"),
            (3, "https://ok.example.org/z"),
        ],
        "i int, url string",
    )
    blocked = spark.createDataFrame([("example.com",)], "domain string")
    out = filter_by_domain_blocklist(pages, blocked)
    assert [r.i for r in out.orderBy("i").collect()] == [3]
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_canonicalize_and_extract_are_idempotent(spark):
    """Fixed-point properties: canonical_url(canonical_url(u)) ==
    canonical_url(u) and extract(extract(html)) == extract(html) — a
    normalizer that keeps moving on its own output corrupts re-processed
    (resumed / recrawled) corpora."""
    from puddin_spark.operators.html import extract_text_from_html
    from puddin_spark.operators.urls import canonical_url
    from puddin_spark.synth import _h

    urls = []
    for i in range(60):
        scheme = ["http", "HTTPS", "ftp"][i % 3]
        host = f"WWW.s{_h(i, 'h') % 9}.Example.{['com', 'co.uk', 'org'][i % 3]}"
        q = ["", "?utm_source=x", "?a=1&utm_b=2&c=3", "?gclid=z#f", "#frag"][i % 5]
        urls.append((i, f"{scheme}://{host}:{8000 + i % 3}/P{i}{q}"))
    df = spark.createDataFrame(urls, "i int, u string")
    once = canonical_url("u")
    twice = canonical_url(canonical_url("u"))
    assert df.filter(once != twice).count() == 0

    pages = spark.createDataFrame(
        [
            (i, f"<html><head><title>t</title></head><body><h1>H{i}</h1>"
                f"<p>alpha &amp; beta {i}</p><br/><div>tail</div></body></html>")
            for i in range(40)
        ],
        "i int, h string",
    )
    e1 = extract_text_from_html("h")
    e2 = extract_text_from_html(extract_text_from_html("h"))
    assert pages.filter(e1 != e2).count() == 0


def _srp_test_corpus(spark):
    """(new_index, new_bands, committed_index, committed_bands) with
    engineered structure: committed template clusters (so newcomers have
    MANY committed candidates), newcomer exact/near twins above the 0.99
    bar, near-misses just below it, and randoms. Vectors are deterministic
    numpy; bands via the SQL srp_band_table (the sidecar's committed
    layout's formulation)."""
    import numpy as np

    from puddin_spark.operators.similarity import srp_band_table

    rng = np.random.RandomState(77)
    templates = rng.randn(6, 64)
    templates /= np.linalg.norm(templates, axis=1, keepdims=True)

    def near(t, cos):
        # deterministic vector at ~the requested cosine from t
        n = rng.randn(64)
        n -= n.dot(t) * t
        n /= np.linalg.norm(n)
        v = cos * t + np.sqrt(max(1 - cos * cos, 0.0)) * n
        return v / np.linalg.norm(v)

    committed = []
    for ti, t in enumerate(templates):
        committed.append((f"c{ti}_base", t))
        # a committed cluster: members 0.991-0.999 of the template — hot
        # shared buckets, many >= 0.99 of each other
        for j in range(8):
            committed.append((f"c{ti}_m{j}", near(t, 0.991 + 0.001 * j)))
    new = []
    for ti, t in enumerate(templates[:4]):
        new.append((f"n{ti}_twin", near(t, 0.995)))   # must flip
        new.append((f"n{ti}_miss", near(t, 0.94)))    # candidates, no flip
    for i in range(6):
        v = rng.randn(64)
        new.append((f"n_rand{i}", v / np.linalg.norm(v)))  # no candidates

    def frame(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "id string, v array<double>",
        )

    new_idx, com_idx = frame(new), frame(committed)
    return (
        new_idx,
        srp_band_table(new_idx, num_planes=16, num_bands=8),
        com_idx,
        srp_band_table(com_idx, num_planes=16, num_bands=8),
    )


def test_committed_flip_ids_match_full_enumeration(spark):
    """committed_srp_flip_ids (per-bucket numpy cosine blocks, chunked
    first-hit early exit) must flip EXACTLY the set full pair enumeration
    flips — at every chunk size: chunk=1 maximally exercises the
    early-exit row masking (one committed column per slice), chunk=7 the
    mixed path, chunk=10^6 a single unchunked matmul. VERDICT r5 item 1's
    'flip set identical to the uncapped path' pin."""
    from puddin_spark.operators.similarity import (
        committed_srp_flip_ids,
        incremental_srp_band_pairs,
    )

    new_idx, new_bands, com_idx, com_bands = _srp_test_corpus(spark)
    full = incremental_srp_band_pairs(
        new_idx, new_bands, com_idx, com_bands, min_cos=0.99
    )
    new_ids = {r.id for r in new_idx.select("id").collect()}
    want = set()
    for r in full.filter("committed_side").collect():
        want.add(r.id_a if r.id_a in new_ids else r.id_b)
    assert want, "corpus must produce committed-side flips"
    # and some newcomers must have candidates but NO hit (phase-B tails)
    cand_ids = {
        r.id for r in new_bands.join(
            com_bands.select("band", "bucket").distinct(), ["band", "bucket"]
        ).select("id").distinct().collect()
    }
    assert cand_ids - want, "corpus must produce no-hit candidate tails"

    for chunk in (1, 7, 10**6):
        got = {
            r.new_id
            for r in committed_srp_flip_ids(
                new_idx, new_bands, com_idx, com_bands,
                min_cos=0.99, chunk=chunk,
            ).collect()
        }
        assert got == want, f"chunk={chunk}: {got ^ want}"


def test_srp_batch_pairs_matmul_matches_enumeration(spark):
    """srp_batch_pairs_matmul (r6: per-bucket numpy pair emission, the
    new-vs-new edge generator the sidecar uses) must produce EXACTLY the
    pair set incremental_srp_band_pairs enumerates at the same threshold —
    at chunk=1 (every column its own slice), chunk=5, and one unchunked
    block. The sidecar's cluster resolution consumes these edges, so
    set equality here is flip-set equality there."""
    from puddin_spark.operators.similarity import (
        incremental_srp_band_pairs,
        srp_batch_pairs_matmul,
    )

    new_idx, new_bands, com_idx, com_bands = _srp_test_corpus(spark)
    # within-batch edges over the union corpus: dup-template heavy
    idx = new_idx.unionByName(com_idx)
    from puddin_spark.operators.similarity import srp_band_table

    bands = srp_band_table(idx, num_planes=16, num_bands=8)
    want = {
        (r.id_a, r.id_b)
        for r in incremental_srp_band_pairs(
            idx, bands, None, None, min_cos=0.99
        ).collect()
    }
    assert want, "corpus must produce within-batch pairs"
    for chunk in (1, 5, 10**6):
        got = {
            (r.id_a, r.id_b)
            for r in srp_batch_pairs_matmul(
                idx, bands, min_cos=0.99, chunk=chunk
            ).collect()
        }
        assert got == want, f"chunk={chunk}: {got ^ want}"


def test_band_occupancy_telemetry(spark):
    """band_occupancy: hottest-first, new/committed split sums to total,
    top_k bounded."""
    from puddin_spark.operators.similarity import band_occupancy

    new_idx, new_bands, com_idx, com_bands = _srp_test_corpus(spark)
    occ = band_occupancy(new_bands, com_bands, top_k=5).collect()
    assert 0 < len(occ) <= 5
    totals = [r.n_total for r in occ]
    assert totals == sorted(totals, reverse=True)
    for r in occ:
        assert r.n_total == r.n_new + r.n_committed
    # template clusters make the hottest key committed-heavy
    assert occ[0].n_committed >= 2


def test_decontaminate_flags_and_broadcasts(spark):
    """decontaminate: a doc sharing any word n-gram with the eval set is
    flagged with the distinct overlapping-gram count; clean docs are not.
    The eval-gram side must be the BROADCAST side of the probe join (the
    corpus never shuffles its bodies at 10^12-doc scale)."""
    from puddin_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            ("d1", "a b c d e f g h"),     # contains eval 5-grams
            ("d2", "z y x w v u t s"),     # clean
            ("d3", "c d e f g h q r"),     # shares the tail 5-grams
        ],
        "doc_id string, text string",
    )
    ev = spark.createDataFrame([("c d e f g h",)], "text string")
    out = decontaminate(docs, ev, n=5)
    got = {r.id: r.n_contaminated for r in out.collect()}
    # eval text has 5-grams: 'c d e f g', 'd e f g h' — d1 and d3 carry both
    assert got == {"d1": 2, "d3": 2}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_apply_decontamination_gate_composes_with_verdicts(spark):
    """Decontamination as a verdict gate (apply_quality_gate contract):
    kept docs overlapping the eval set flip to excl_type='contaminated'
    with clean_text nulled; dropped docs and clean kept docs untouched;
    column order preserved."""
    from puddin_spark.operators.dedup import apply_decontamination_gate

    verdicts = spark.createDataFrame(
        [
            ("d1", True, None, "alpha beta gamma delta epsilon"),
            ("d2", True, None, "one two three four five"),
            ("d3", False, "punc", None),
        ],
        "doc_id string, keep boolean, excl_type string, clean_text string",
    )
    ev = spark.createDataFrame([("beta gamma delta",)], "text string")
    out = apply_decontamination_gate(verdicts, ev, n=3)
    assert out.columns == verdicts.columns
    rows = {r.doc_id: r for r in out.collect()}
    assert rows["d1"].keep is False and rows["d1"].excl_type == "contaminated"
    assert rows["d1"].clean_text is None
    assert rows["d2"].keep is True and rows["d2"].excl_type is None
    assert rows["d3"].keep is False and rows["d3"].excl_type == "punc"


def test_hash_split_stable_and_proportional(spark):
    """hash_split: assignment is a pure function of (key, salt) — identical
    under repartitioning (randomSplit is NOT); proportions land near the
    weights; a different salt draws an independent split."""
    from puddin_spark.operators.splits import hash_split

    d = spark.range(0, 4000).selectExpr("id as doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(d, w, salt="v1").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(d.repartition(13), w, salt="v1").collect()
    }
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 4000 - 0.8) < 0.03
    assert abs(c["val"] / 4000 - 0.1) < 0.02
    assert abs(c["test"] / 4000 - 0.1) < 0.02
    # fresh salt: same proportions, different membership
    c2 = {r.doc_id: r.split for r in hash_split(d, w, salt="v2").collect()}
    assert c2 != a
    import pytest

    with pytest.raises(ValueError, match="positive"):
        hash_split(d, {"train": -1.0, "val": 2.0})


def test_cap_per_domain_keeps_best_and_plans_group_limit(spark):
    """cap_per_domain keeps exactly max_per_domain rows per registered
    domain in order_by order, and the rank<=k window plans as
    WindowGroupLimit (partial top-k BEFORE the shuffle — the exchange
    never carries a whole over-represented host crawl)."""
    from puddin_spark.operators.urls import cap_per_domain

    rows = [
        (i, f"https://sub{i % 2}.host{i % 3}.example.com/p/{i}")
        for i in range(60)
    ]
    pages = spark.createDataFrame(rows, "doc_id long, url string")
    out = cap_per_domain(pages, 4, order_by=["doc_id"])
    got = sorted(r.doc_id for r in out.collect())
    # 3 hosts fold into ONE registered domain (example.com): global cap 4
    assert got == [0, 1, 2, 3]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_stratified_sample_stable_and_per_stratum(spark):
    """stratified_sample: membership is a pure function of (key, salt) —
    identical under repartitioning (sampleBy is NOT); per-stratum keep
    rates land near the requested fractions; unlisted strata get the
    default; out-of-range fractions raise."""
    import pytest
    from puddin_spark.operators.splits import stratified_sample

    d = spark.range(0, 6000).selectExpr(
        "id as doc_id",
        "case when id % 3 = 0 then 'en' when id % 3 = 1 then 'es' else 'de' end as lang",
    )
    fr = {"en": 0.5, "es": 0.2}
    a = {r.doc_id for r in stratified_sample(d, fr, salt="t1").collect()}
    b = {
        r.doc_id
        for r in stratified_sample(d.repartition(17), fr, salt="t1").collect()
    }
    assert a == b
    by_lang = {
        lang: sum(1 for i in a if i % 3 == k) / 2000
        for k, lang in enumerate(["en", "es", "de"])
    }
    assert abs(by_lang["en"] - 0.5) < 0.04
    assert abs(by_lang["es"] - 0.2) < 0.03
    assert by_lang["de"] == 0.0  # default fraction 0 drops unlisted strata
    # non-zero default keeps ~that share of unlisted strata
    c = {
        r.doc_id
        for r in stratified_sample(d, fr, salt="t1", default=0.3).collect()
    }
    assert a <= c
    assert abs(sum(1 for i in c if i % 3 == 2) / 2000 - 0.3) < 0.04
    with pytest.raises(ValueError, match="outside"):
        stratified_sample(d, {"en": 1.5})


def test_importance_scores_discriminate_and_broadcast(spark):
    """DSIR-style importance weighting on a two-vocabulary corpus: docs
    drawn from the target vocabulary must outscore background-vocabulary
    docs; scores are repartition-stable (BIGINT sums — no float
    summation order dependence); the weight join is a broadcast."""
    from puddin_spark.operators.importance import (
        fit_importance_weights,
        importance_scores,
    )

    tgt_words = ["alpha", "beta", "gamma", "delta"]
    bg_words = ["omega", "sigma", "kappa", "zeta"]
    rows = []
    for i in range(120):
        words = tgt_words if i % 2 == 0 else bg_words
        rows.append((i, " ".join(words[(i + j) % 4] for j in range(30))))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    target = d.where("doc_id % 2 = 0")
    w = fit_importance_weights(target, d, num_buckets=64)
    assert len(w) == 64 and all(isinstance(v, int) for v in w.values())
    scored = importance_scores(d, w, num_buckets=64)
    got = {r.doc_id: r.score_q for r in scored.collect()}
    assert len(got) == 120
    tgt_min = min(v for k, v in got.items() if k % 2 == 0)
    bg_max = max(v for k, v in got.items() if k % 2 == 1)
    assert tgt_min > bg_max > 0 or tgt_min > 0 > bg_max or 0 > tgt_min > bg_max
    assert tgt_min > bg_max
    again = {
        r.doc_id: r.score_q
        for r in importance_scores(d.repartition(11), w, num_buckets=64).collect()
    }
    assert again == got
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_perplexity_buckets_even_tiles_per_group(spark):
    """perplexity_buckets: within each group the three tiles are as even
    as possible; lower-ppl rows land in 'head'; tie-break on id makes
    membership deterministic under repartitioning."""
    from puddin_spark.operators.textstats import perplexity_buckets

    rows = [(i, "en" if i < 90 else "de", float(i % 30)) for i in range(150)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, ppl double")
    out = perplexity_buckets(d)
    got = {(r.doc_id): (r.lang, r.ppl_bucket) for r in out.collect()}
    from collections import Counter

    en = Counter(v[1] for v in got.values() if v[0] == "en")
    de = Counter(v[1] for v in got.values() if v[0] == "de")
    assert en == {"head": 30, "middle": 30, "tail": 30}
    assert de == {"head": 20, "middle": 20, "tail": 20}
    # head really is the low-perplexity end within its group
    en_head_max = max(
        r.ppl for r in out.collect() if r.lang == "en" and r.ppl_bucket == "head"
    )
    en_tail_min = min(
        r.ppl for r in out.collect() if r.lang == "en" and r.ppl_bucket == "tail"
    )
    assert en_head_max <= en_tail_min
    again = {
        (r.doc_id): (r.lang, r.ppl_bucket)
        for r in perplexity_buckets(d.repartition(13)).collect()
    }
    assert again == got


def test_global_prefix_sum_matches_single_task_window(spark):
    """with_global_prefix_sum: bit-identical to the single-task
    sum().over(Window.orderBy(...)) at any partitioning, but the plan has
    NO Exchange SinglePartition (the 10^12-row wall the two-phase scheme
    exists to avoid)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from puddin_spark.operators.packing import (
        shuffle_key_col,
        with_global_prefix_sum,
    )

    d = spark.range(0, 3000).selectExpr("id as doc_id", "id % 97 + 1 as toks")
    w = (
        Window.orderBy(shuffle_key_col("doc_id", "t1"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r.doc_id: r.s - r.toks
        for r in d.withColumn("s", F.sum("toks").over(w)).collect()
    }
    for parts in (3, 11):
        out = with_global_prefix_sum(
            d.repartition(7), "toks", salt="t1", num_partitions=parts
        )
        got = {r.doc_id: r._start for r in out.collect()}
        assert got == want
    plan = with_global_prefix_sum(d, "toks", salt="t1")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_pack_sequences_stream_layout(spark):
    """pack_sequences: reading docs back in (pack_id, pack_offset) order
    reconstructs a contiguous token stream — each doc starts exactly where
    the previous one ended (mod straddling), offsets < seq_len, stream
    starts at pack 0 offset 0."""
    from puddin_spark.operators.packing import pack_sequences

    d = spark.range(0, 400).selectExpr("id as doc_id", "id % 50 + 1 as toks")
    out = pack_sequences(d, 128, "toks", salt="p9", num_partitions=5)
    rows = sorted(
        out.collect(), key=lambda r: (r.pack_id, r.pack_offset, r.doc_id)
    )
    assert rows[0].pack_id == 0 and rows[0].pack_offset == 0
    pos = 0
    for r in rows:
        assert r.pack_id * 128 + r.pack_offset == pos
        assert 0 <= r.pack_offset < 128
        pos += r.toks
    assert pos == sum(i % 50 + 1 for i in range(400))


def test_token_budget_prefix_property(spark):
    """token_budget_sample: kept docs fit within the budget; a larger
    budget strictly extends the selection (prefix property — the
    scaling-law ladder invariant); membership is repartition-stable."""
    import pytest
    from puddin_spark.operators.packing import token_budget_sample

    d = spark.range(0, 500).selectExpr("id as doc_id", "id % 40 + 5 as toks")
    small = {
        r.doc_id for r in token_budget_sample(d, 2000, "toks", salt="b1").collect()
    }
    big = {
        r.doc_id for r in token_budget_sample(d, 6000, "toks", salt="b1").collect()
    }
    assert small < big
    kept_tokens = sum(
        r.toks for r in token_budget_sample(d, 2000, "toks", salt="b1").collect()
    )
    assert kept_tokens <= 2000
    again = {
        r.doc_id
        for r in token_budget_sample(
            d.repartition(13), 2000, "toks", salt="b1", num_partitions=4
        ).collect()
    }
    assert again == small
    with pytest.raises(ValueError, match="non-negative"):
        token_budget_sample(d, -1, "toks")


def test_repeated_spans_positions_and_stride(spark):
    """repeated_spans: a 5-token run shared by two docs at DIFFERENT
    positions yields exactly the aligned window hits at each doc's own
    positions; singleton spans never flag; stride subsamples the start
    lattice; xxhash64 and md5 flag identical (id, pos) sets."""
    import pytest
    from puddin_spark.operators.dedup import repeated_spans

    d = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # shared run c..g at pos 3
            (2, "x y c d e f g z w"),        # shared run c..g at pos 3
            (3, "p q r s t u v"),            # unique
        ],
        "doc_id long, text string",
    )
    out = repeated_spans(d, window=3, hash_impl="md5")
    got = {(r.id, r.pos) for r in out.collect()}
    # windows of 'c d e f g': starts at c,d,e -> doc1 pos 3,4,5 / doc2 pos 3,4,5
    assert got == {(1, 3), (1, 4), (1, 5), (2, 3), (2, 4), (2, 5)}
    alt = {
        (r.id, r.pos)
        for r in repeated_spans(d, window=3, hash_impl="xxhash64").collect()
    }
    assert alt == got
    # stride 2 keeps only starts 1,3,5,... -> pos 4 hits disappear
    s2 = {
        (r.id, r.pos)
        for r in repeated_spans(d, window=3, stride=2, hash_impl="md5").collect()
    }
    assert s2 == {(1, 3), (1, 5), (2, 3), (2, 5)}
    with pytest.raises(ValueError, match="min_docs"):
        repeated_spans(d, window=0)
    with pytest.raises(ValueError, match="hash_impl"):
        repeated_spans(d, hash_impl="sha1")


def test_trim_repeated_spans_keep_first(spark):
    """trim_repeated_spans: the rank-1 (lowest id, pos) occurrence keeps
    its text; later occurrences lose the union of their flagged
    [pos, pos+window) intervals; untouched docs survive (re-joined)."""
    from puddin_spark.operators.dedup import trim_repeated_spans

    d = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x y c d e f g z w"),
            (3, "p q r s t u v"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.trimmed_text for r in trim_repeated_spans(
        d, window=3, hash_impl="md5"
    ).collect()}
    assert out[1] == "a b c d e f g h"      # first occurrence: untouched
    assert out[2] == "x y z w"              # tokens 3..7 (c..g) removed
    assert out[3] == "p q r s t u v"        # no flags: identity re-join


def test_apply_repeated_span_gate_flips_kept_docs(spark):
    """apply_repeated_span_gate: kept docs with more than max_flagged
    duplicated spans flip to excl_type='dup_spans' (clean_text nulled);
    dropped docs and clean docs pass through untouched."""
    from puddin_spark.operators.dedup import apply_repeated_span_gate

    v = spark.createDataFrame(
        [
            ("d1", "one two three four five six", True, None),
            ("d2", "zz one two three four five qq", True, None),
            ("d3", "totally different words here", True, None),
            ("d4", "one two three four five six", False, "punc"),
        ],
        "doc_id string, clean_text string, keep boolean, excl_type string",
    )
    out = {r.doc_id: r for r in apply_repeated_span_gate(
        v, window=4, max_flagged=0
    ).collect()}
    # d1 and d2 share the 4-token windows of 'one two three four five';
    # both kept docs flip (the gate drops ALL flagged members — keep-one
    # salvage is trim_repeated_spans' job)
    assert out["d1"].keep is False and out["d1"].excl_type == "dup_spans"
    assert out["d1"].clean_text is None
    assert out["d2"].keep is False and out["d2"].excl_type == "dup_spans"
    assert out["d3"].keep is True and out["d3"].excl_type is None
    assert out["d4"].keep is False and out["d4"].excl_type == "punc"
    assert out["d4"].clean_text == "one two three four five six"


def test_temperature_fractions_formula_and_bounds():
    """temperature_fractions: alpha=1 keeps everything, alpha=0 equalizes
    expected counts (f_d = c_min/c_d), intermediate alphas interpolate
    via (c_min/c_d)^(1-alpha); invalid alpha / counts raise."""
    import pytest
    from puddin_spark.operators.splits import temperature_fractions

    counts = {"en": 8000, "es": 2000, "de": 500}
    f1 = temperature_fractions(counts, 1.0)
    assert f1 == {"en": 1.0, "es": 1.0, "de": 1.0}
    f0 = temperature_fractions(counts, 0.0)
    # expected kept counts all equal c_min
    assert all(abs(counts[d] * f - 500) < 1e-9 for d, f in f0.items())
    fh = temperature_fractions(counts, 0.5)
    assert fh["de"] == 1.0
    assert f0["en"] < fh["en"] < f1["en"]
    assert temperature_fractions({}, 0.5) == {}
    with pytest.raises(ValueError, match="alpha"):
        temperature_fractions(counts, 1.5)
    with pytest.raises(ValueError, match="positive"):
        temperature_fractions({"en": 0}, 0.5)


def test_temperature_mix_stable_and_flattening(spark):
    """temperature_mix: membership is a pure function of (counts, alpha,
    key, salt) — identical under repartitioning and when counts are
    passed precomputed; alpha=0 brings stratum sizes near the smallest."""
    from puddin_spark.operators.splits import temperature_mix

    d = spark.range(0, 10500).selectExpr(
        "id as doc_id",
        "case when id % 21 < 16 then 'en'"
        " when id % 21 < 20 then 'es' else 'de' end as lang",
    )
    a = {r.doc_id for r in temperature_mix(d, 0.0, salt="x").collect()}
    b = {
        r.doc_id
        for r in temperature_mix(d.repartition(13), 0.0, salt="x").collect()
    }
    assert a == b
    pre = {"en": 8000, "es": 2000, "de": 500}
    c = {
        r.doc_id
        for r in temperature_mix(d, 0.0, salt="x", counts=pre).collect()
    }
    assert a == c
    kept = {"en": 0, "es": 0, "de": 0}
    for i in a:
        kept["en" if i % 21 < 16 else "es" if i % 21 < 20 else "de"] += 1
    # alpha=0: every stratum's kept count lands near c_min=500
    assert kept["de"] == 500
    assert abs(kept["en"] - 500) < 90 and abs(kept["es"] - 500) < 90
    # alpha=1 is the identity mix
    assert temperature_mix(d, 1.0, salt="x").count() == 10500


def test_shard_shuffle_layout_matches_single_window(spark):
    """shard_shuffle: the two-phase prefix-sum sharding must equal the
    naive single-task row_number over md5(key||salt) order bit-for-bit,
    at any parallelism; every shard is exactly shard_size docs except the
    last; bad shard_size raises."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from puddin_spark.operators.splits import shard_shuffle

    d = spark.range(0, 1234).selectExpr("id as doc_id", "id * 2 as payload")
    out = shard_shuffle(d, 100, salt="s7", num_partitions=7)
    rows = {r.doc_id: (r.shard_id, r.shard_pos, r.payload) for r in out.collect()}
    oracle = d.select(
        "doc_id",
        (
            F.row_number().over(
                Window.orderBy(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("s7"))),
                    "doc_id",
                )
            )
            - 1
        ).alias("rk"),
    )
    want = {
        r.doc_id: (r.rk // 100, r.rk % 100) for r in oracle.collect()
    }
    assert {k: v[:2] for k, v in rows.items()} == want
    assert rows[5][2] == 10  # payload columns survive
    sizes = sorted(
        out.groupBy("shard_id").count().rdd.map(lambda r: r["count"]).collect()
    )
    assert sizes == [34] + [100] * 12
    # parallelism-independent layout
    again = {
        r.doc_id: (r.shard_id, r.shard_pos)
        for r in shard_shuffle(d.repartition(3), 100, salt="s7").collect()
    }
    assert again == want
    with pytest.raises(ValueError, match="positive"):
        shard_shuffle(d, 0)


def test_gopher_columns_each_rule_fires(spark):
    """gopher_columns: one crafted violator per MassiveText rule plus one
    clean doc; signals and the combined verdict match the published
    thresholds; the scan stays pure codegen (no Python eval in plan)."""
    from puddin_spark.operators.textstats import gopher_columns

    base = "the quick brown fox jumps to be of and that have with " * 5
    docs = [
        ("clean", base),
        ("short", "the be to of and that have with"),     # n_words < 50
        ("longw", ("pneumonoultramicroscopic " * 60) + "the be"),  # mean len > 10
        ("hashy", base + "# " * 12),                      # hash ratio > 0.1
        ("ells", base + "... " * 12),                     # ellipsis ratio > 0.1
        ("bullets", "\n".join(["- the be to of item"] * 10)),  # bullet frac
        ("endell", base + "\n" + "\n".join(["read the more..."] * 9)),
        ("numeric", ("42 17 99 " * 30) + "the be"),       # alpha frac < 0.8
        ("nostop", "zz qq ww ee rr tt yy uu ii oo " * 8), # required words < 2
    ]
    d = spark.createDataFrame(docs, "doc_id string, text string")
    out = {r.doc_id: r for r in gopher_columns(d, min_words=30).collect()}
    assert out["clean"].gopher_keep is True
    assert out["short"].n_words < 30 and out["short"].gopher_keep is False
    assert out["longw"].mean_word_len > 10 and not out["longw"].gopher_keep
    assert out["hashy"].hash_word_ratio > 0.1 and not out["hashy"].gopher_keep
    assert out["ells"].ellipsis_word_ratio > 0.1 and not out["ells"].gopher_keep
    assert out["bullets"].bullet_line_frac > 0.9 and not out["bullets"].gopher_keep
    assert out["endell"].ellipsis_line_frac > 0.3 and not out["endell"].gopher_keep
    assert out["numeric"].alpha_word_frac < 0.8 and not out["numeric"].gopher_keep
    assert out["nostop"].n_required_words < 2 and not out["nostop"].gopher_keep
    plan = gopher_columns(d, min_words=30)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_apply_gopher_gate_flips_only_kept_failures(spark):
    """apply_gopher_gate: kept docs failing the battery flip to
    excl_type='gopher' with clean_text nulled; kept passers and already-
    dropped docs pass through byte-identical; schema unchanged."""
    from puddin_spark.operators.textstats import apply_gopher_gate

    good = "the quick brown fox jumps to be of and that have with " * 5
    v = spark.createDataFrame(
        [
            ("d1", good, True, None),
            ("d2", "zz qq ww " * 20, True, None),          # no required words
            ("d3", "tiny", False, "punc"),
        ],
        "doc_id string, clean_text string, keep boolean, excl_type string",
    )
    out = {r.doc_id: r for r in apply_gopher_gate(v, min_words=30).collect()}
    assert out["d1"].keep is True and out["d1"].excl_type is None
    assert out["d1"].clean_text == good
    assert out["d2"].keep is False and out["d2"].excl_type == "gopher"
    assert out["d2"].clean_text is None
    assert out["d3"].keep is False and out["d3"].excl_type == "punc"
    assert out["d3"].clean_text == "tiny"
    assert [f.name for f in apply_gopher_gate(v).schema.fields] == [
        "doc_id", "clean_text", "keep", "excl_type",
    ]


def test_c4_columns_line_and_page_rules(spark):
    """c4_columns: one violator per C4 rule — line retention requires
    terminal punctuation, >=5 words, and no javascript mention; pages
    fail on braces, 'lorem ipsum', or <3 surviving sentences; the scan
    stays pure codegen."""
    from puddin_spark.operators.textstats import c4_columns

    page = (
        "alpha beta gamma delta epsilon.\n"
        "the second line has six words.\n"
        "do you want to know more? yes!"
    )
    docs = [
        ("clean", page),
        ("noterm", "alpha beta gamma delta epsilon\nno punctuation here at all\nstill none here my friend"),
        ("short", "one two.\nthree four!\nfive six?"),
        ("js", page + "\nplease enable javascript to continue now."),
        ("brace", page + "\nif (x) { return y; }."),
        ("lorem", page + "\nthis page uses Lorem Ipsum filler text."),
        ("fewsent", "just the one good line right here.\nand another fine line right here."),
    ]
    d = spark.createDataFrame(docs, "doc_id string, text string")
    out = {r.doc_id: r for r in c4_columns(d).collect()}
    assert out["clean"].c4_keep is True
    assert out["clean"].n_lines == 3 and out["clean"].n_lines_kept == 3
    assert out["clean"].n_sentences == 4  # three terminals + mid-line '?'
    assert out["clean"].c4_text == page
    assert out["noterm"].n_lines_kept == 0 and not out["noterm"].c4_keep
    assert out["noterm"].c4_text == ""
    assert out["short"].n_lines_kept == 0 and not out["short"].c4_keep
    # the js line is dropped but the page keeps its three clean lines
    assert out["js"].n_lines == 4 and out["js"].n_lines_kept == 3
    assert out["js"].c4_keep is True and "javascript" not in out["js"].c4_text
    assert out["brace"].has_brace is True and not out["brace"].c4_keep
    assert out["lorem"].has_lorem is True and not out["lorem"].c4_keep
    assert out["fewsent"].n_sentences == 2 and not out["fewsent"].c4_keep
    plan = c4_columns(d)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_apply_c4_gate_rewrites_survivors_and_flips_failures(spark):
    """apply_c4_gate: kept pages failing page rules flip to excl_type='c4'
    (clean_text nulled); kept survivors get clean_text REWRITTEN to the
    retained lines; dropped docs pass through byte-identical."""
    from puddin_spark.operators.textstats import apply_c4_gate

    page = (
        "alpha beta gamma delta epsilon.\n"
        "the second line has six words.\n"
        "do you want to know more? yes!"
    )
    v = spark.createDataFrame(
        [
            ("d1", page + "\nbad line no punct", True, None),
            ("d2", page + "\nsee our lorem ipsum gallery.", True, None),
            ("d3", "raw soup", False, "punc"),
        ],
        "doc_id string, clean_text string, keep boolean, excl_type string",
    )
    out = {r.doc_id: r for r in apply_c4_gate(v).collect()}
    assert out["d1"].keep is True and out["d1"].excl_type is None
    assert out["d1"].clean_text == page  # bad line removed, text rewritten
    assert out["d2"].keep is False and out["d2"].excl_type == "c4"
    assert out["d2"].clean_text is None
    assert out["d3"].keep is False and out["d3"].excl_type == "punc"
    assert out["d3"].clean_text == "raw soup"
    assert [f.name for f in apply_c4_gate(v).schema.fields] == [
        "doc_id", "clean_text", "keep", "excl_type",
    ]


def test_ordered_prefix_sum_matches_single_task_window(spark):
    """with_global_prefix_sum(order_col=): the two-phase scheme in
    (score DESC, hash, key) order equals the naive single-task window
    bit-for-bit at several partitionings, and still plans without
    Exchange SinglePartition."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from puddin_spark.operators.packing import (
        shuffle_key_col,
        with_global_prefix_sum,
    )

    d = spark.range(0, 700).selectExpr(
        "id as doc_id", "id % 37 + 1 as toks", "(id * 7919) % 101 as score"
    )
    w = (
        Window.orderBy(
            F.col("score").desc(), shuffle_key_col("doc_id", "o1"), "doc_id"
        ).rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r.doc_id: r.s
        for r in d.select(
            "doc_id", F.coalesce(F.sum("toks").over(w), F.lit(0)).alias("s")
        ).collect()
    }
    for np in (None, 3, 11):
        out = with_global_prefix_sum(
            d, "toks", salt="o1", num_partitions=np, order_col="score"
        )
        got = {r.doc_id: r._start for r in out.collect()}
        assert got == want, f"num_partitions={np}"
    plan = (
        with_global_prefix_sum(d, "toks", salt="o1", order_col="score")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_select_top_importance_greedy_budget(spark):
    """select_top_importance: the kept set is the greedy score-descending
    fill of the budget (every kept doc outranks every dropped doc except
    budget-straddlers), growing the budget only adds docs, membership is
    parallelism-independent, and total kept tokens respect the budget."""
    import pytest
    from puddin_spark.operators.importance import select_top_importance

    d = spark.range(0, 300).selectExpr(
        "cast(id as string) as doc_id",
        "id % 40 + 5 as n_tokens",
        "(id * 31) % 97 as score_q",
    )
    kept = select_top_importance(d, 2000, salt="s")
    rows = kept.collect()
    assert sum(r.n_tokens for r in rows) <= 2000
    # greedy property: the minimum kept score >= every dropped doc's score
    # once the budget could no longer fit ANY doc (here all docs <= 45
    # tokens, so after the cut only straddlers may be skipped; verify via
    # the exact single-machine greedy replay)
    import hashlib

    def hx(i):
        return hashlib.md5((i + "s").encode()).hexdigest()

    all_rows = sorted(
        d.collect(), key=lambda r: (-r.score_q, hx(r.doc_id), r.doc_id)
    )
    acc, want = 0, set()
    for r in all_rows:
        if acc + r.n_tokens <= 2000:
            want.add(r.doc_id)
        acc += r.n_tokens
    assert {r.doc_id for r in rows} == want
    # prefix property + parallelism independence
    bigger = {
        r.doc_id
        for r in select_top_importance(d, 4000, salt="s").collect()
    }
    assert {r.doc_id for r in rows} < bigger
    repart = {
        r.doc_id
        for r in select_top_importance(
            d.repartition(13), 2000, salt="s", num_partitions=5
        ).collect()
    }
    assert repart == want
    with pytest.raises(ValueError, match="non-negative"):
        select_top_importance(d, -1)


def test_duplicate_cluster_weights_soft_dedup(spark):
    """duplicate_cluster_weights: cluster members share root/size and get
    weight_q = 2^20 div size; singletons are their own root at full
    weight; the weighted corpus mass equals the deduplicated doc count
    (up to quantization) — the soft-dedup invariant."""
    from puddin_spark.operators.dedup import duplicate_cluster_weights

    d = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id bigint"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a bigint, id_b bigint"
    )
    out = {r.doc_id: r for r in duplicate_cluster_weights(d, pairs).collect()}
    assert len(out) == 7
    for i in (1, 2, 3):
        assert out[i].cluster_root == 1 and out[i].cluster_size == 3
        assert out[i].weight_q == (1 << 20) // 3
    for i in (5, 6):
        assert out[i].cluster_root == 5 and out[i].cluster_size == 2
        assert out[i].weight_q == (1 << 20) // 2
    for i in (4, 7):
        assert out[i].cluster_root == i and out[i].cluster_size == 1
        assert out[i].weight_q == 1 << 20
    # soft-dedup invariant: sum of weights ~ number of distinct clusters
    total = sum(r.weight_q for r in out.values()) / (1 << 20)
    assert abs(total - 4) < 1e-5  # clusters {1,2,3},{5,6},{4},{7}


def test_mojibake_fix_roundtrip_and_markers(spark):
    """with_mojibake_fixed: text corrupted by a REAL
    encode('utf-8')/decode('latin-1') round trip is restored exactly for
    every char in the pair table; clean text (including genuine accented
    chars) passes through untouched with zero markers; the projection
    stays pure codegen."""
    from puddin_spark.operators.encoding import (
        MOJIBAKE_PAIRS,
        with_mojibake_fixed,
    )

    # NOTE: mis-decode as cp1252 (the real-world case: 0x80 -> €,
    # 0x9C -> œ, giving the printable 'â€œ' forms); plain latin-1 yields
    # C1 control chars instead. '”' is excluded — its 0x9D byte is
    # undefined in cp1252 (which is why the bare 'â€' tail exists in the
    # wild and stays out of the pair table).
    clean = "café crème élève naïve façade crêpe über niño “smart – — … €42 «q» 3°"
    corrupted = clean.encode("utf-8").decode("cp1252")
    # sanity: the corruption really produced the table's broken forms
    assert "Ã©" in corrupted and "â€œ" in corrupted
    docs = [
        ("broken", corrupted),
        ("clean", clean),
        ("ascii", "plain ascii text only"),
    ]
    d = spark.createDataFrame(docs, "doc_id string, text string")
    out = {r.doc_id: r for r in with_mojibake_fixed(d).collect()}
    # every pair-table char round-trips; the one sequence outside the
    # table (bare 'â€' from the closing cp1252 quote, whose third byte is
    # a control char) stays broken — assert the fix on a per-char basis
    for broken, fixed in MOJIBAKE_PAIRS:
        assert broken not in out["broken"].fixed_text or broken == "Â "
    for ch in ["é", "è", "ï", "ç", "ü", "ñ", "“", "–", "—", "…", "€", "«", "»", "°"]:
        assert ch in out["broken"].fixed_text
    assert out["broken"].mojibake_markers > 10
    assert out["clean"].fixed_text == clean
    assert out["clean"].mojibake_markers == 0
    assert out["ascii"].fixed_text == "plain ascii text only"
    plan = with_mojibake_fixed(d)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
