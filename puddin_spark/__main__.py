"""Command-line entry points (the reference's script surface, SURVEY.md §3):

  python -m puddin_spark run      -i <pages.parquet|.jsonl> -d <dest>
      the pipeline job (parse_pile.py §3.1): resumable quality filter into a
      snapshot store at <dest>/verdicts, lineage CSV at <dest>/lineage,
      optional CoNLL-U text output at <dest>/conllu
  python -m puddin_spark validate -i <pages> -d <dest>
      the completeness checker (confirm_doc_ids.py §3.2)
  python -m puddin_spark stats    -d <dest>
      corpus statistics rollup (statify_puddin.py §3.3)
  python -m puddin_spark train-lm -d <dest> [-i <corpus>]
      persist the distributed KenLM-format n-gram LM (operators/ngram_lm)
  python -m puddin_spark score-ppl -d <dest> [-i <corpus>]
      attach stupid-backoff perplexity to the kept corpus (or -i input)

Designed for spark-submit too:  spark-submit --py-files puddin_spark.zip
<this file> run -i ... -d ...  (the session builder only applies defaults
that aren't already set by spark-submit --conf).
"""
from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def _pages(spark, path: str, subset: str):
    if path.endswith(".jsonl") or path.endswith(".json"):
        from puddin_spark.sources import read_pile_jsonl

        return read_pile_jsonl(spark, path, subset)
    if ".warc" in path:
        from puddin_spark.sources import read_warc

        return read_warc(spark, path)
    return spark.read.parquet(path)


def _read_table(spark, path: str):
    """A csv (with header) or parquet table, by file extension."""
    if path.endswith(".csv"):
        return spark.read.option("header", True).csv(path)
    return spark.read.parquet(path)


def _gates(spark, args) -> list:
    """The rule gates `run` and `stream` apply after the puddin rules, in
    order (run_resumable_pipeline(gates=...)). The order puts cheap
    decisions before the costly operators, so each later gate sees fewer
    kept docs (the predicate-pushdown argument of Predicate Pushdown for
    Data Science Pipelines, SIGMOD 2023)."""
    from functools import partial

    from puddin_spark.operators.dedup import (
        apply_decontamination_gate,
        apply_repeated_span_gate,
    )
    from puddin_spark.operators.ngram_lm import apply_ppl_gate
    from puddin_spark.operators.textstats import apply_c4_gate, apply_gopher_gate

    if args.ppl_lm and args.ppl_gate_max is None:
        print(json.dumps({"error": "--ppl-lm requires --ppl-gate-max"}))
        spark.stop()
        raise SystemExit(2)
    gates = []
    if args.gopher:
        # cheapest gate first: a codegen-only flip that shrinks the kept
        # set before the broadcast-join (decontaminate) and shuffle
        # (near-dedup) stages do per-doc work
        gates.append(partial(apply_gopher_gate, min_words=args.gopher_min_words))
    if args.c4:
        # after gopher (which judges the original page), before the
        # joins/shuffles: C4 rewrites surviving clean_text to its
        # retained lines, so downstream dedup hashes the cleaned body
        gates.append(apply_c4_gate)
    if args.ppl_lm:
        # CCNet-style quality flip against a PERSISTED target-domain LM
        # (train-lm once on e.g. a Wikipedia sample, score every ingest
        # batch): after the codegen gates, before decontaminate/span/
        # near-dedup — its three broadcast probes are cheaper than the
        # ngram-explode join stages it shrinks. The LM is read when the
        # gate is applied, so each stream micro-batch sees a retrained LM.
        gates.append(lambda v: apply_ppl_gate(
            v, spark.read.parquet(args.ppl_lm), max_ppl=args.ppl_gate_max
        ))
    if args.decontaminate:
        # train/test-leakage flip BEFORE the near-dedup passes: fewer kept
        # docs reach the (costlier) encoding/shingling stages, and a doc
        # that is both contaminated and a near-dup records the policy
        # reason (contaminated) rather than the incidental one
        gates.append(partial(
            apply_decontamination_gate,
            eval_docs=_read_table(spark, args.decontaminate),
            n=args.decontaminate_ngram,
        ))
    if args.dedup_spans:
        # after the policy gates, before the sidecar passes — a doc that
        # is both span-spam and a near-dup records the cheaper-to-compute
        # reason, and fewer docs reach the shingling/encoding stages
        gates.append(partial(apply_repeated_span_gate, window=args.dedup_spans))
    return gates


def _pipeline_kwargs(spark, args) -> dict:
    """The run_resumable_pipeline keywords `run` and `stream` share."""
    return dict(
        num_partitions=args.partitions,
        near_dedup=args.near_dedup,
        embedding_near_dedup=args.embedding_near_dedup,
        srp_planes=args.srp_planes,
        srp_bands=args.srp_bands,
        html_fallback=args.html_fallback,
        fix_mojibake=args.fix_mojibake,
        gates=_gates(spark, args),
    )


def _lineage_totals(lineage) -> dict:
    """Store-wide doc/keep totals summed from the store's lineage: every
    verdict commit carries the lineage of its rows (record_failures,
    compact and rollback recommit it as base), so no full-store count is
    needed."""
    from pyspark.sql import functions as F

    if lineage is None:
        return {"total_docs": 0, "total_keep": 0}
    row = lineage.agg(F.sum("n_docs").alias("d"), F.sum("n_keep").alias("k")).first()
    return {"total_docs": int(row.d or 0), "total_keep": int(row.k or 0)}


def cmd_run(args) -> int:
    from pyspark.sql import functions as F

    from puddin_spark.pipeline import sentence_table
    from puddin_spark.session import get_spark
    from puddin_spark.sinks import write_conllu, write_lineage_csv
    from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline

    spark = get_spark(master=args.master, app_name="puddin_spark.run")
    kwargs = _pipeline_kwargs(spark, args)
    pages = _pages(spark, args.input, args.subset)
    if args.limit:
        pages = pages.limit(args.limit)
    store = SnapshotStore(f"{args.dest}/verdicts")
    snap_id, n_new = run_resumable_pipeline(
        spark, pages, store, **kwargs,
        # csv (header: domain) or parquet of registered domains
        blocked_domains=_read_table(spark, args.blocklist) if args.blocklist else None,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
    )
    out = {"snapshot_id": snap_id, "new_docs": n_new}
    if snap_id >= 0:
        lineage = store.read_lineage(spark)
        write_lineage_csv(lineage, f"{args.dest}/lineage")
        out.update(_lineage_totals(lineage))
        # THIS batch's keep count from the stats-pruned lineage read: the
        # per-file snapshot_id stats open only the new snapshot's lineage
        # files (file skipping), not one snapshot per batch of history
        batch_lin = store.read_lineage_where(
            spark, "snapshot_id", snap_id, snap_id
        )
        if batch_lin is not None:
            row = batch_lin.agg(
                F.sum("n_keep").alias("k"), F.sum("n_docs").alias("d")
            ).first()
            out["batch_keep"] = int(row.k or 0)
            out["batch_docs"] = int(row.d or 0)
        if args.conllu:
            sents = sentence_table(store.read(spark))
            if args.annotate:
                # annotated rendering with the reference's F9 contract:
                # annotation failures drop the whole doc from the conllu
                # output and flip its verdict post-hoc (parse_pile.py:
                # 1374-1390,1443-1447)
                from puddin_spark.pipeline import conllu_with_failures
                from puddin_spark.sinks import write_conllu_rendered
                from puddin_spark.snapshots import record_failures

                # the annotation intermediate checkpoints under dest so the
                # write-once/read-twice pass survives inspection and reruns
                # supersede (base commits) instead of accumulating
                sk, failures = conllu_with_failures(
                    sents, store=f"{args.dest}/anno_intermediate"
                )
                write_conllu_rendered(
                    sk, f"{args.dest}/conllu", num_slices=args.partitions
                )
                n_fail = failures.count()
                out["parse_fail_docs"] = n_fail
                if n_fail:
                    out["fail_snapshot_id"] = record_failures(
                        spark, store, failures, num_partitions=args.partitions
                    )
            else:
                write_conllu(
                    sents, f"{args.dest}/conllu", num_slices=args.partitions
                )
            out["conllu_dir"] = f"{args.dest}/conllu"
    print(json.dumps(out))
    spark.stop()
    return 0


def cmd_validate(args) -> int:
    from puddin_spark.session import get_spark
    from puddin_spark.snapshots import SnapshotStore
    from puddin_spark.validation import validate_run

    spark = get_spark(master=args.master, app_name="puddin_spark.validate")
    pages = _pages(spark, args.input, args.subset)
    store = SnapshotStore(f"{args.dest}/verdicts")
    verdicts = store.read(spark)
    if verdicts is None:
        print(json.dumps({"ok": False, "error": "no committed verdicts"}))
        spark.stop()
        return 2
    # previously-triaged violations (url, violation) — csv or parquet;
    # the reference's known_fail allowlist surface
    known = _read_table(spark, args.known_fail) if args.known_fail else None
    # incremental stores dedup globally by text digest: a url shadowed by a
    # committed duplicate text is covered, not missing
    summary, _ = validate_run(
        pages, verdicts, dedup=False, digest_aware=True, known_fail=known
    )
    print(json.dumps(summary))
    spark.stop()
    return 0 if summary["ok"] else 1


def cmd_stats(args) -> int:
    from pyspark.sql import functions as F

    from puddin_spark.pipeline import sentence_table
    from puddin_spark.session import get_spark
    from puddin_spark.snapshots import SnapshotStore
    from puddin_spark.stats import hierarchical_stats, sentence_metrics

    spark = get_spark(master=args.master, app_name="puddin_spark.stats")
    store = SnapshotStore(f"{args.dest}/verdicts")
    verdicts = store.read(spark)
    if verdicts is None:
        print(json.dumps({"error": "no committed verdicts"}))
        spark.stop()
        return 2
    sents = sentence_table(verdicts).join(
        verdicts.select("doc_id", "lang"), "doc_id"
    )
    rows = hierarchical_stats(sentence_metrics(sents), ["lang"]).collect()
    print(json.dumps([r.asDict() for r in rows], default=str))
    spark.stop()
    return 0


def cmd_overview(args) -> int:
    """Store/run overview (the reference's file_overview.py surface):
    snapshot log, per-snapshot doc counts, on-disk sizes, and the current
    doc and kept counts. Answered from the commit records (row counts and
    the kept-id fingerprint each commit carries) and the file sizes: no
    Spark session. A count that a record does not carry prints null."""
    import os

    from puddin_spark.snapshots import _KEPT_IDS, SnapshotStore

    store = SnapshotStore(f"{args.dest}/verdicts")
    recs = store.commits()
    if not recs:
        print(json.dumps({"snapshots": [], "error": "no committed snapshots"}))
        return 2
    out = []
    for rec in recs:
        d = store.base / rec["data_dir"]
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs
        )
        out.append(
            {
                "snapshot_id": rec["snapshot_id"],
                "base": bool(rec.get("base")),
                "n_docs": rec.get("rows"),
                "bytes": size,
            }
        )
    kept = store.fingerprint(_KEPT_IDS)
    print(
        json.dumps(
            {
                "snapshots": out,
                "current_snapshot_id": store.current_snapshot_id(),
                "current_docs": store.row_count(),
                "current_keep": kept[0] if kept else None,
            }
        )
    )
    return 0


def cmd_compact(args) -> int:
    """Store maintenance: compact + gc the verdict store AND its near-dedup
    sidecar stores (snapshots.SIDECAR_STORES: each sidecar's index and band
    cache) — the Iceberg rewrite_data_files + expire_snapshots lifecycle.
    Long-lived incremental runs accumulate one snapshot per batch in every
    store; this resets read/commit cost to O(1). partition specs are
    preserved by compact()."""
    from puddin_spark.session import get_spark
    from puddin_spark.snapshots import SIDECAR_STORES, SnapshotStore

    spark = get_spark(master=args.master, app_name="puddin_spark.compact")
    out = {}
    for name in ("verdicts", *(f"verdicts/{s}" for s in SIDECAR_STORES)):
        base = Path(args.dest) / name
        if not any((base / "_commits").glob("*.json")):
            continue
        st = SnapshotStore(base)
        sid = st.compact(spark)
        removed = st.gc(staging_max_age_s=args.gc_age)
        out[name] = {"snapshot_id": sid, "dirs_removed": removed}
    print(json.dumps(out))
    spark.stop()
    return 0


def cmd_export(args) -> int:
    """Training-data export — the last mile after cleaning/dedup: kept
    verdicts -> optional temperature-flattened language mix
    (splits.temperature_mix) -> optional exact token budget
    (packing.token_budget_sample) -> reproducible split assignment
    (splits.hash_split) -> per-split layout: GPT-3-style sequence packing
    (packing.pack_sequences) by default, or fixed-size doc shards
    (splits.shard_shuffle) with --shard-size. Every stage is a pure
    function of (corpus, salt): rerunning at any cluster size or resuming
    after more batches were ingested reproduces identical mix/split
    membership and pack/shard layout for the docs that were already
    present."""
    from pyspark.sql import functions as F

    from puddin_spark.operators.packing import (
        pack_sequences,
        token_budget_sample,
    )
    from puddin_spark.operators.splits import (
        hash_split,
        shard_shuffle,
        temperature_mix,
    )
    from puddin_spark.operators.textstats import token_count_col
    from puddin_spark.session import get_spark
    from puddin_spark.snapshots import SnapshotStore

    weights = {}
    for part in args.splits.split(","):
        name, _, w = part.partition("=")
        weights[name.strip()] = float(w)
    spark = get_spark(master=args.master, app_name="puddin_spark.export")
    store = SnapshotStore(f"{args.dest}/verdicts")
    verdicts = store.read(spark)
    if verdicts is None:
        print(json.dumps({"ok": False, "error": "no committed verdicts"}))
        spark.stop()
        return 2
    docs = (
        verdicts.filter("keep")
        .select("doc_id", "url", "lang", "clean_text")
        .withColumn("n_tokens", token_count_col("clean_text").cast("bigint"))
    )
    if args.temperature is not None:
        # a distinct sub-salt: the mix lattice must be independent of the
        # budget/split/pack lattice so changing one never reshuffles the other
        docs = temperature_mix(
            docs, args.temperature, strata_col="lang", salt=args.salt + ":mix"
        )
    if args.importance_budget:
        # DSIR: fit hashed-unigram weights target-vs-kept-corpus, score,
        # and greedily keep the best docs within the token budget — the
        # data-SELECTION step before the data-LAYOUT steps below
        if not args.importance_target:
            print(json.dumps({
                "ok": False,
                "error": "--importance-budget requires --importance-target",
            }))
            spark.stop()
            return 2
        from puddin_spark.operators.importance import (
            fit_importance_weights,
            importance_scores,
            select_top_importance,
        )

        target = _read_table(spark, args.importance_target)
        # fit uses one text_col name for both frames: align the target's
        # `text` column to the kept corpus's `clean_text` (the constant
        # doc_id is fine — fitting only counts tokens, never ids)
        imp_weights = fit_importance_weights(
            target.select(
                F.lit("t").alias("doc_id"),
                F.col("text").alias("clean_text"),
            ),
            docs, text_col="clean_text", num_buckets=256,
        )
        scored = importance_scores(
            docs, imp_weights, text_col="clean_text", num_buckets=256
        ).select("doc_id", "n_tokens", "score_q")
        kept_ids = select_top_importance(
            scored, args.importance_budget, salt=args.salt + ":imp"
        )
        docs = docs.join(kept_ids.select("doc_id"), "doc_id", "left_semi")
    if args.ppl_max is not None:
        # CCNet-style quality selection: keep only docs the corpus LM
        # scored at or below the threshold (train-lm + score-ppl wrote
        # the artifact; unscored docs — added after score-ppl ran — are
        # excluded loudly in the summary rather than silently kept)
        ppl_dir = f"{args.dest}/ppl"
        if not Path(ppl_dir).exists():
            print(json.dumps({
                "ok": False,
                "error": f"--ppl-max needs {ppl_dir}; run train-lm then"
                " score-ppl first",
            }))
            spark.stop()
            return 2
        ppl = spark.read.parquet(ppl_dir)
        # select the id column BY NAME: relying on parquet column order
        # (ppl.columns[0]) would silently join on the wrong column after a
        # schema reorder or an externally-written artifact (ADVICE r5)
        key = next((c for c in ("url", "doc_id") if c in ppl.columns), None)
        if key is None:
            print(json.dumps({
                "ok": False,
                "error": f"{ppl_dir} has no url/doc_id id column"
                f" (columns: {ppl.columns})",
            }))
            spark.stop()
            return 2
        kept = ppl.filter(
            F.col("ppl").isNotNull() & (F.col("ppl") <= args.ppl_max)
        ).select(key)
        # count the kept docs the artifact never scored (absent from it, or
        # present with a null ppl) BEFORE the semi-join drops them —
        # surfaced in the summary (ppl_unscored_excluded), so the exclusion
        # is loud, as the comment above promises
        ppl_unscored = docs.join(
            ppl.filter(F.col("ppl").isNotNull()).select(key), key, "left_anti"
        ).count()
        docs = docs.join(kept, key, "left_semi")
    if args.budget:
        docs = token_budget_sample(docs, args.budget, "n_tokens", salt=args.salt)
    if args.dup_weights:
        # SOFT dedup for training: attach weight_q = 2^20 div near-dup
        # cluster size so the trainer can downweight duplicates instead
        # of the pipeline dropping them (near-dup flips at ingest remove
        # cross-batch twins; this covers whatever policy chose to keep)
        from puddin_spark.operators.dedup import (
            duplicate_cluster_weights,
            minhash_lsh_pairs,
        )

        pairs = minhash_lsh_pairs(
            docs, "doc_id", "clean_text",
            num_hashes=16, band_size=2, shingle_k=3,
            jaccard_threshold=0.8, shingle_mode="word",
            hash_impl="xxhash64",
        )
        w = duplicate_cluster_weights(docs, pairs)
        docs = docs.join(
            w.select("doc_id", "cluster_size", "weight_q"), "doc_id"
        )
    docs = hash_split(docs, weights, salt=args.salt)
    out_dir = args.out or f"{args.dest}/export"
    # lay out each split independently (splits train separately; a shared
    # token stream / shard sequence would interleave val docs into train)
    packed = None
    for name in weights:
        part = (
            shard_shuffle(
                docs.where(F.col("split") == name), args.shard_size,
                salt=args.salt,
            )
            if args.shard_size
            else pack_sequences(
                docs.where(F.col("split") == name), args.seq_len, "n_tokens",
                salt=args.salt,
            )
        )
        packed = part if packed is None else packed.unionByName(part)
    packed.write.mode("overwrite").partitionBy("split").parquet(out_dir)
    # summarize from the written plan, not a re-read: an all-filtered
    # export (e.g. a budget smaller than the first stream doc) writes an
    # empty partitioned dir, which parquet cannot re-infer a schema from
    unit_col = "shard_id" if args.shard_size else "pack_id"
    unit_name = "shards" if args.shard_size else "packs"
    rows = (
        packed.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            (F.max(unit_col) + 1).alias("units"),
        )
        .collect()
    )
    summary = {
        "ok": True,
        "out": out_dir,
        "splits": {
            r["split"]: {
                "docs": r["docs"],
                "tokens": r["tokens"],
                unit_name: r["units"],
            }
            for r in rows
        },
    }
    if args.shard_size:
        summary["shard_size"] = args.shard_size
    else:
        summary["seq_len"] = args.seq_len
    if args.importance_budget:
        summary["importance_budget"] = args.importance_budget
    if args.ppl_max is not None:
        summary["ppl_max"] = args.ppl_max
        summary["ppl_unscored_excluded"] = ppl_unscored
    print(json.dumps(summary))
    spark.stop()
    return 0


def cmd_stream(args) -> int:
    """Continuous ingestion: Structured Streaming over a directory of page
    parquet drops (the shape a crawl delivers), each micro-batch running
    the batch pipeline body and committing atomically to the SnapshotStore
    (streaming.run_streaming_pipeline). The availableNow trigger drains
    everything currently present and stops; rerunning after new drops
    arrive resumes from BOTH the stream checkpoint and the store's
    url/digest anti-joins, so replayed files never double-commit."""
    from puddin_spark.session import get_spark
    from puddin_spark.snapshots import SnapshotStore
    from puddin_spark.streaming import run_streaming_pipeline

    spark = get_spark(master=args.master, app_name="puddin_spark.stream")
    store = SnapshotStore(f"{args.dest}/verdicts")
    q = run_streaming_pipeline(
        spark,
        args.input,
        store,
        args.checkpoint or f"{args.dest}/checkpoint",
        **_pipeline_kwargs(spark, args),
    )
    drained = q.awaitTermination(args.stream_timeout)
    if not drained:
        q.stop()
    out = {
        "ok": bool(drained),
        **_lineage_totals(store.read_lineage(spark)),
        "snapshot_id": store.current_snapshot_id(),
    }
    print(json.dumps(out))
    spark.stop()
    return 0 if drained else 3


def cmd_train_lm(args) -> int:
    """Distributed KenLM-style LM training (operators/ngram_lm.py): build
    the (order, gram, logp_fp) conditional-log-prob table over a corpus —
    the KEPT documents of this dest's verdict store by default, or any
    -i input with a text column — and persist it as parquet at
    <dest>/ngram_lm. Training is pure DataFrame work (one corpus scan,
    partial-aggregated counts, prefix self-joins); the persisted table is
    the production LM artifact score-ppl (and any external job) joins
    against, so the corpus is never re-scanned at scoring time."""
    from pyspark.sql import functions as F

    from puddin_spark.operators.ngram_lm import train_ngram_lm
    from puddin_spark.session import get_spark
    from puddin_spark.snapshots import SnapshotStore

    spark = get_spark(master=args.master, app_name="puddin_spark.train_lm")
    if args.input:
        docs = _pages(spark, args.input, args.subset).select("text")
    else:
        store = SnapshotStore(f"{args.dest}/verdicts")
        v = store.read(spark)
        if v is None:
            print(json.dumps({"error": "no verdict store at dest; pass -i"}))
            spark.stop()
            return 2
        docs = v.filter("keep").select(F.col("clean_text").alias("text"))
    lm = train_ngram_lm(
        docs, n=args.lm_order, min_count=args.min_count, materialize=True
    )
    out_dir = f"{args.dest}/ngram_lm"
    lm.repartition(args.partitions, "gram").write.mode("overwrite").parquet(
        out_dir
    )
    per_order = {
        str(r["order"]): r["n"]
        for r in spark.read.parquet(out_dir)
        .groupBy("order")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(json.dumps({"lm_dir": out_dir, "rows_per_order": per_order}))
    spark.stop()
    return 0


def cmd_score_ppl(args) -> int:
    """Score per-document stupid-backoff perplexity against the persisted
    LM table (train-lm): three backoff hash joins, no model object on any
    worker. Scores the dest store's kept documents by default (CCNet-style
    quality tiering over the cleaned corpus) or any -i input; writes
    (id, n_tokens, ppl) to <dest>/ppl and prints summary stats."""
    from pyspark.sql import functions as F

    from puddin_spark.operators.ngram_lm import score_perplexity
    from puddin_spark.session import get_spark
    from puddin_spark.snapshots import SnapshotStore

    spark = get_spark(master=args.master, app_name="puddin_spark.score_ppl")
    lm_dir = f"{args.dest}/ngram_lm"
    if not Path(lm_dir).exists():
        print(json.dumps({"error": f"no LM at {lm_dir}; run train-lm first"}))
        spark.stop()
        return 2
    lm = spark.read.parquet(lm_dir)
    if args.input:
        docs = _pages(spark, args.input, args.subset)
    else:
        store = SnapshotStore(f"{args.dest}/verdicts")
        v = store.read(spark)
        if v is None:
            print(json.dumps({"error": "no verdict store at dest; pass -i"}))
            spark.stop()
            return 2
        docs = v.filter("keep").withColumn(
            "text", F.col("clean_text")
        )
    id_col = "url" if "url" in docs.columns else "doc_id"
    from puddin_spark.operators.ngram_lm import lm_order

    scored = score_perplexity(
        docs, lm, id_col=id_col, n=lm_order(lm),
        broadcast_lm=not args.no_broadcast_lm,
    )
    out_dir = f"{args.dest}/ppl"
    scored.write.mode("overwrite").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    row = back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("ppl").alias("n_scored"),
        F.round(F.avg("ppl"), 4).alias("mean_ppl"),
        F.round(F.min("ppl"), 4).alias("min_ppl"),
        F.round(F.max("ppl"), 4).alias("max_ppl"),
    ).first()
    print(
        json.dumps(
            {
                "ppl_dir": out_dir,
                "id_col": id_col,
                "n_docs": row.n_docs,
                "n_scored": row.n_scored,
                "mean_ppl": row.mean_ppl,
                "min_ppl": row.min_ppl,
                "max_ppl": row.max_ppl,
            }
        )
    )
    spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="puddin_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name, fn in [
        ("run", cmd_run),
        ("stream", cmd_stream),
        ("validate", cmd_validate),
        ("stats", cmd_stats),
        ("overview", cmd_overview),
        ("compact", cmd_compact),
        ("export", cmd_export),
        ("train-lm", cmd_train_lm),
        ("score-ppl", cmd_score_ppl),
    ]:
        sp = sub.add_parser(name)
        sp.set_defaults(fn=fn)
        sp.add_argument("-d", "--dest", required=True)
        sp.add_argument("--master", default=None)
        sp.add_argument("--partitions", type=int, default=32)
        sp.add_argument("--subset", default="Pile-CC")
        if name in ("run", "validate", "stream"):
            sp.add_argument("-i", "--input", required=True)
        if name in ("train-lm", "score-ppl"):
            sp.add_argument(
                "-i", "--input", default=None,
                help="corpus with a text column (jsonl/warc/parquet);"
                " default: this dest's kept, cleaned documents",
            )
        if name == "train-lm":
            sp.add_argument(
                "--lm-order", type=int, default=3, dest="lm_order",
                help="max n-gram order of the trained LM",
            )
            sp.add_argument(
                "--min-count", type=int, default=1, dest="min_count",
                help="prune n-grams (orders >= 2) below this count —"
                " bounds the LM table at corpus scale; unigrams always"
                " survive so OOV backoff terminates at a real count",
            )
        if name == "score-ppl":
            sp.add_argument(
                "--no-broadcast-lm", action="store_true",
                dest="no_broadcast_lm",
                help="shuffle-join against the LM instead of broadcasting"
                " it (use when a lightly-pruned LM exceeds executor"
                " broadcast memory)",
            )
        if name == "stream":
            sp.add_argument(
                "--checkpoint",
                default=None,
                help="stream checkpoint dir (default <dest>/checkpoint)",
            )
            sp.add_argument(
                "--stream-timeout",
                type=float,
                default=600.0,
                dest="stream_timeout",
                help="max seconds to wait for the availableNow drain",
            )
        if name == "compact":
            sp.add_argument(
                "--gc-age",
                type=float,
                default=3600.0,
                dest="gc_age",
                help="gc staging_max_age_s: minimum age (s) before orphan"
                " staging/snapshot dirs are collected; 0 only when no"
                " writer can be running",
            )
        if name == "validate":
            sp.add_argument(
                "--known-fail",
                default=None,
                help="csv/parquet of triaged (url, violation) rows; matching"
                " violations are flagged known_fail and don't fail the run",
            )
        if name == "export":
            sp.add_argument(
                "--splits",
                default="train=0.9,val=0.05,test=0.05",
                help="name=weight list for splits.hash_split",
            )
            sp.add_argument(
                "--seq-len", type=int, default=2048, dest="seq_len",
                help="tokens per packed training sequence",
            )
            sp.add_argument(
                "--budget", type=int, default=0,
                help="exact token budget BEFORE splitting (0 = whole"
                " corpus); prefix property: growing it only adds docs",
            )
            sp.add_argument(
                "--salt", default="v1",
                help="salt for budget/split/pack determinism — change to"
                " draw an independent shuffle/split",
            )
            sp.add_argument(
                "--out", default=None,
                help="output dir (default <dest>/export)",
            )
            sp.add_argument(
                "--temperature",
                type=float,
                default=None,
                help="temperature-flatten the language mix before the"
                " budget (splits.temperature_mix alpha in [0,1]: 1 ="
                " natural distribution, 0 = equal expected counts)",
            )
            sp.add_argument(
                "--shard-size",
                type=int,
                default=0,
                dest="shard_size",
                help="doc-level export layout: deterministic global"
                " shuffle into fixed-size shards (splits.shard_shuffle)"
                " instead of token-stream packing",
            )
            sp.add_argument(
                "--importance-target",
                default=None,
                dest="importance_target",
                help="csv (header: text) or parquet of target-domain"
                " sample texts for DSIR importance selection",
            )
            sp.add_argument(
                "--importance-budget",
                type=int,
                default=0,
                dest="importance_budget",
                help="keep only the highest-DSIR-importance docs fitting"
                " this token budget (requires --importance-target);"
                " applied before --budget/splitting",
            )
            sp.add_argument(
                "--ppl-max",
                type=float,
                default=None,
                dest="ppl_max",
                help="CCNet-style selection: keep only docs whose"
                " score-ppl perplexity (<dest>/ppl from train-lm +"
                " score-ppl) is <= this threshold; applied before"
                " --budget/splitting",
            )
            sp.add_argument(
                "--dup-weights",
                action="store_true",
                dest="dup_weights",
                help="attach soft-dedup columns (cluster_size, weight_q ="
                " 2^20 div near-dup cluster size) so the trainer can"
                " downweight near-duplicates instead of dropping them",
            )
        if name == "run":
            sp.add_argument("--limit", type=int, default=0)
            sp.add_argument("--conllu", action="store_true")
        if name in ("run", "stream"):
            sp.add_argument(
                "--near-dedup",
                action="store_true",
                help="fuzzy-dedup each batch against all prior batches via"
                " the minhash index sidecar; near-dup newcomers get"
                " excl_type='near_dup'",
            )
            sp.add_argument(
                "--embedding-near-dedup",
                action="store_true",
                dest="embedding_near_dedup",
                help="fuzzy-dedup each batch against all prior batches in"
                " EMBEDDING space via the SRP index sidecar; cosine>=0.99"
                " newcomers get excl_type='emb_near_dup'",
            )
            sp.add_argument(
                "--srp-planes",
                type=int,
                default=None,
                dest="srp_planes",
                help="SRP planes per band for --embedding-near-dedup"
                " (first run sets it, persisted in the sidecar; random"
                " collisions per band scale as N/2^planes — raise at"
                " larger corpus scales)",
            )
            sp.add_argument(
                "--srp-bands",
                type=int,
                default=None,
                dest="srp_bands",
                help="SRP band count for --embedding-near-dedup (first"
                " run sets it, persisted; candidates share ANY band key"
                " — more bands, higher near-twin recall)",
            )
            sp.add_argument(
                "--html-fallback",
                action="store_true",
                help="extract text from the html column (JVM regexp chain)"
                " for rows whose WET text is null/empty",
            )
            sp.add_argument(
                "--fix-mojibake",
                action="store_true",
                dest="fix_mojibake",
                help="repair double-encoded UTF-8 in incoming text"
                " (cafÃ© -> café) before hashing and scrubbing",
            )
            sp.add_argument(
                "--gopher",
                action="store_true",
                help="apply the Gopher/MassiveText heuristic quality"
                " battery after the puddin rules; failing kept docs get"
                " excl_type='gopher'",
            )
            sp.add_argument(
                "--c4",
                action="store_true",
                help="apply the C4 cleaning battery after the puddin"
                " rules: surviving docs keep only terminal-punctuated"
                " >=5-word lines; brace/lorem-ipsum/<3-sentence pages"
                " get excl_type='c4'",
            )
            sp.add_argument(
                "--gopher-min-words",
                type=int,
                default=50,
                dest="gopher_min_words",
                help="lower word-count bound for --gopher",
            )
            sp.add_argument(
                "--ppl-lm",
                default=None,
                dest="ppl_lm",
                help="persisted KenLM-format LM parquet dir (train-lm on a"
                " TARGET-domain corpus); kept docs scoring above"
                " --ppl-gate-max flip to excl_type='ppl' at ingest (the"
                " CCNet configuration)",
            )
            sp.add_argument(
                "--ppl-gate-max",
                type=float,
                default=None,
                dest="ppl_gate_max",
                help="perplexity threshold for --ppl-lm",
            )
            sp.add_argument(
                "--decontaminate",
                default=None,
                help="csv (header: text) or parquet of eval/benchmark texts;"
                " kept docs sharing any word n-gram with them flip to"
                " excl_type='contaminated' (GPT-3/Pile 13-gram hygiene)",
            )
            sp.add_argument(
                "--decontaminate-ngram",
                type=int,
                default=13,
                help="n-gram size for --decontaminate overlap",
            )
            sp.add_argument(
                "--dedup-spans",
                type=int,
                default=0,
                dest="dedup_spans",
                help="window size (tokens) for the batch-local repeated-"
                "span gate: kept docs sharing any window-token span with"
                " another doc in the batch get excl_type='dup_spans'"
                " (0 = off)",
            )
        if name == "run":
            sp.add_argument(
                "--partition-by",
                default=None,
                help="comma-separated verdict columns (e.g. lang) to"
                " directory-partition each committed snapshot by; readers"
                " filtering on them prune files (Iceberg partition-spec"
                " analog, preserved by compact/rollback)",
            )
            sp.add_argument(
                "--blocklist",
                default=None,
                help="csv (header: domain) or parquet of registered domains"
                " to record as excl_type='blocked_domain'",
            )
            sp.add_argument(
                "--annotate",
                action="store_true",
                help="fill LEMMA/UPOS/HEAD/DEPREL via the pluggable annotator;"
                " docs whose annotation raises are recorded as excl_type="
                "'fail' post-hoc (the reference's parse-failure contract)",
            )
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
