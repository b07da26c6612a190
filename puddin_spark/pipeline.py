"""The quality-filter pipeline as a declarative DataFrame program.

Reference lifecycle (SURVEY.md section 3.1, parse_pile.py): jsonl scan +
subset filter -> dedup keep-first -> id synthesis -> scrub C1-C4 -> exclusion
battery -> scrub C5-C6 -> slice/partition -> parse. Here each step is a
Catalyst-visible DataFrame op; the only opaque islands are the two
Arrow-batched pandas UDFs (scrub+classify, segmentation), whose ordering is
load-bearing (filter order defines labels) and which Catalyst correctly
treats as a unit.

Scale posture:
- language gate + column pruning happen BEFORE the UDF so parquet scans push
  the `lang` filter down and never ship `html` bytes into Python;
- keep-first exact dedup has one path: the decision runs on a NARROW
  projection (sha2(text), warc_ts, url — optimization guide section 8), so
  the only hash shuffle in the plan carries ~100-byte decision rows; the
  loser urls broadcast into a left-anti join, and document bodies never
  cross an exchange;
- the heavy UDF then runs pre-shuffle on the scan's byte-balanced splits —
  uniform work units without a repartition (and ~cores Python tasks
  instead of 4x cores: each Python-stage task carries a fixed runner
  handshake cost).

Memory contract: the loser url set (one row per duplicate copy) is
broadcast whole. There is no size guard and no windowed fallback, so a
batch whose duplicate copies cannot fit in a broadcast must be split by
the caller.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from puddin_spark.udfs import process_udf, segment_udf

OUTPUT_COLS = [
    "doc_id", "url", "warc_ts", "lang", "text_sha", "clean_text", "keep", "excl_type",
]


def flip_verdicts(
    verdicts: DataFrame,
    flag: Column | DataFrame,
    label: str,
    text_col: str = "clean_text",
) -> DataFrame:
    """The one verdict flip every gate, sidecar and post-hoc recorder uses:
    KEPT rows selected by `flag` become keep=false, excl_type=`label`,
    `text_col` null — a dropped doc carries no clean text (the
    completeness checker's text_state rule, validation.validate_run).
    Already-dropped rows and rows whose flag is null pass through untouched;
    the column order is kept.

    `flag` is a boolean Column over `verdicts`, or a DataFrame holding one
    column of DISTINCT keys (a `verdicts` column of the same name) naming
    the rows to flip — left-joined, so `verdicts` is never filtered."""
    cols = verdicts.columns
    if isinstance(flag, DataFrame):
        (key,) = flag.columns
        verdicts = verdicts.join(flag.withColumn("_flag", F.lit(True)), key, "left")
        flag = F.col("_flag")
    flip = F.col("_flip")
    fixed = {
        text_col: F.when(flip, F.lit(None).cast("string")).otherwise(F.col(text_col)),
        "keep": F.col("keep") & ~flip,
        "excl_type": F.when(flip, F.lit(label)).otherwise(F.col("excl_type")),
    }
    return verdicts.withColumn(
        "_flip", F.coalesce(flag, F.lit(False)) & F.col("keep")
    ).select(*[fixed[c].alias(c) if c in fixed else F.col(c) for c in cols])


def doc_id_col(url: Column | str = "url") -> Column:
    """Stable document key: sha2(url) (SURVEY.md section 1.4; replaces the
    reference's positional text ids, parse_pile.py:745-788)."""
    return F.sha2(F.col(url) if isinstance(url, str) else url, 256)


# the keep-first winner of an exact-duplicate group: min (warc_ts, url).
# quality_pipeline ranks unblocked copies ahead of it when given a blocklist
KEEP_FIRST_ORDER = ("warc_ts", "url")


def dedup_first(
    pages: DataFrame,
    key: Column | str | None = None,
    order: tuple[str, ...] = KEEP_FIRST_ORDER,
) -> DataFrame:
    """Deterministic keep-first exact dedup (reference: drop_duplicates on
    raw, parse_pile.py:588). 'First' = min `order` (default (warc_ts, url))
    — explicit order, unlike pandas' implicit ingest order, so it's stable
    under parallelism.

    Default key is sha2(text, 256): the window's hash shuffle then moves
    32-byte digests instead of multi-KB document bodies — semantics
    identical (both first-wins on the same text equality), shuffle ~100x
    narrower at web scale. Pass key='text' only when an external system
    must see the raw column as the partition expression.

    quality_pipeline does not call this: it makes the same decision on a
    narrow projection. This full-row window is the completeness reference
    (validation.validate_run) and the canonical-url dedup composition."""
    if key is None:
        key = F.sha2("text", 256)
    w = Window.partitionBy(key).orderBy(*order)
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def quality_pipeline(
    pages: DataFrame,
    *,
    num_partitions: int | None = None,  # ignored: perfbench/walk.py, bench.py pass it
    with_timing: bool = False,
    blocked_domains: DataFrame | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> per-document verdict table
    (doc_id, url, warc_ts, lang, clean_text, keep, excl_type) over the
    English rows.

    Dropped docs keep their excl_type label (the reference's exclusions df,
    parse_pile.py:988-990) — keep and drop sides live in one table, split by
    the `keep` flag (SURVEY.md section 1.4).

    Exact duplicates are removed keep-first, min (warc_ts, url) per text:
    the decision runs over a narrow digest projection and the loser urls
    broadcast into a left-anti join, so document bodies never shuffle and
    the UDF runs pre-shuffle on the byte-balanced scan partitions. The
    loser set is broadcast whole (module docstring: memory contract).

    with_timing appends a `proc_ts` column (epoch seconds stamped per Arrow
    batch INSIDE the same Python pass as the scrub/classify UDF) so
    lineage_table can report per-partition started_at/finished_at/duration_s
    — the reference's slice timing lineage. Drop it before publishing
    (run_resumable_pipeline does) to keep the verdict schema contract.

    blocked_domains (a DataFrame with a `domain` column of registered
    domains) records matching docs as verdict rows with
    excl_type='blocked_domain' instead of silently removing them — the
    completeness invariant (every selected url exactly once across
    keep ∪ drop) survives, and validation needs no allowlist. The marker
    join broadcasts the blocklist; blocked rows ship an empty string
    through the scrub UDF (their Python cost is ~zero) and dedup still
    runs on real content, but the keep-first decision orders unblocked rows
    first: a blocked copy can never shadow an unblocked twin, so content
    whose only other copy sat on a blocked domain still reaches the keep
    side (the blocked twin then drops as a dedup loser like any other
    exact duplicate — reference drop_duplicates semantics).

    Callers that need the html fallback apply operators.html.
    with_html_fallback to `pages` first (run_resumable_pipeline does).
    """
    df = pages.filter(F.col("lang") == "en")
    # prune early: html bytes never reach the Python workers
    df = df.select("url", "warc_ts", "lang", "text")
    blocked = F.lit(False)
    order, carried = [], []
    if blocked_domains is not None:
        from puddin_spark.operators.urls import url_domain, url_host

        marker = F.broadcast(
            blocked_domains.select(
                F.lower("domain").alias("_dom"), F.lit(True).alias("_blk")
            )
        )
        df = (
            df.withColumn("_dom", url_domain(url_host("url")))
            .join(marker, "_dom", "left")
            .drop("_dom")
        )
        blocked = F.coalesce(F.col("_blk"), F.lit(False))
        order, carried = [blocked.cast("int")], [F.col("_blk")]
    # Decide with small rows, never move the big rows (optimization guide
    # section 8): the keep-first decision depends only on (sha2(text),
    # warc_ts, url) — ~100 bytes/doc — so the window runs over that narrow
    # projection (a second column-pruned scan of the source) and emits just
    # the LOSER urls (duplicate copies to drop, typically a small fraction
    # of the corpus). Losers broadcast into a left-anti join against the
    # scan; the bodies never shuffle.
    # Correctness note: the anti-join keys on url ALONE — the pipeline
    # contract has url unique per input row (doc_id = sha2(url); the
    # completeness invariant is "every url exactly once"), under which this
    # is exactly a full-row window's keep-1 semantics, including rows with
    # null warc_ts (a composite (url, warc_ts) key would never match a null
    # ts in the anti-join and dup copies would survive). Inputs that
    # violate the contract (two rows sharing a url) dedup at url
    # granularity.
    w = Window.partitionBy("_dig").orderBy(*order, *KEEP_FIRST_ORDER)
    losers = (
        df.select(F.sha2("text", 256).alias("_dig"), "warc_ts", "url", *carried)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("url")
    )
    df = df.join(F.broadcast(losers), ["url"], "left_anti")
    # blocked rows ship '' through the UDF: the battery result is ignored
    # for them below, so don't pay Python for bytes that can't matter
    udf_text = F.when(blocked, F.lit("")).otherwise(F.col("text"))
    out = df.withColumn("_res", process_udf(udf_text))
    if with_timing:
        from puddin_spark.udfs import batch_ts_udf

        out = out.withColumn("_pts", batch_ts_udf(F.col("text")))
    result = out.select(
        doc_id_col().alias("doc_id"),
        "url",
        "warc_ts",
        "lang",
        # digest of the RAW text: lets incremental runs dedup globally
        # against already-committed documents without storing bodies
        F.sha2("text", 256).alias("text_sha"),
        F.when(blocked, F.lit(None).cast("string"))
        .otherwise(F.col("_res.clean_text"))
        .alias("clean_text"),
        (F.col("_res.excl_type").isNull() & ~blocked).alias("keep"),
        F.when(blocked, F.lit("blocked_domain"))
        .otherwise(F.col("_res.excl_type"))
        .alias("excl_type"),
        *([F.col("_pts").alias("proc_ts")] if with_timing else []),
    )
    expected = OUTPUT_COLS + (["proc_ts"] if with_timing else [])
    assert result.columns == expected  # the published schema contract
    return result


def lineage_table(verdicts: DataFrame, num_partitions: int = 32) -> DataFrame:
    """Per-partition lineage/metrics sidecar (reference: slice-info CSV +
    meta index, parse_pile.py:1185-1188,1230-1241,1319-1338; rebuild schema
    per FIXTURES.md section 2).

    Two-level aggregation: (partition, label) counts first — a partial-agg
    friendly shuffle on a low-cardinality composite key — then one row per
    partition with a rule-hit-count map. No collect(), no skew (label
    cardinality is <= 10).

    Timing parity with the reference's slice-info (started_at, finished_at,
    parsing_time — parse_pile.py:1185-1188,1319-1338): when the verdicts
    carry the `proc_ts` column (quality_pipeline(with_timing=True)),
    started_at/finished_at are the min/max Arrow-batch stamps among the
    partition's documents and duration_s their span — measured INSIDE the
    processing pass, not when lineage is aggregated. Without proc_ts the
    columns still exist (schema is stable across commits, so read_lineage
    unions cleanly): started_at/duration_s null, finished_at = aggregation
    time as before.
    """
    part = F.pmod(F.xxhash64("url"), F.lit(num_partitions)).alias("partition_id")
    timed = "proc_ts" in verdicts.columns
    by_label = (
        verdicts.groupBy(part, F.coalesce("excl_type", F.lit("keep")).alias("label"))
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            *(
                [F.min("proc_ts").alias("min_ts"), F.max("proc_ts").alias("max_ts")]
                if timed
                else []
            ),
        )
    )
    out = by_label.groupBy("partition_id").agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("label") == "keep", F.col("n")).otherwise(0)).alias(
            "n_keep"
        ),
        F.sum(F.when(F.col("label") != "keep", F.col("n")).otherwise(0)).alias(
            "n_drop"
        ),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("label", "n")))
        ).alias("rule_hit_counts"),
        F.min("min_doc").alias("first_doc_id"),
        F.max("max_doc").alias("last_doc_id"),
        *(
            [
                F.timestamp_seconds(F.min("min_ts")).alias("started_at"),
                F.timestamp_seconds(F.max("max_ts")).alias("finished_at"),
                F.round(F.max("max_ts") - F.min("min_ts"), 3).alias("duration_s"),
            ]
            if timed
            else []
        ),
    )
    if not timed:
        out = (
            out.withColumn("started_at", F.lit(None).cast("timestamp"))
            .withColumn("finished_at", F.current_timestamp())
            .withColumn("duration_s", F.lit(None).cast("double"))
        )
    return out


def sentence_table(verdicts: DataFrame) -> DataFrame:
    """Kept docs -> one row per sentence (doc_id, sent_num, sent_text),
    the relational form of the reference's CoNLL-U `# sent_id`/`# text`
    comments (parse_pile.py:1496-1515; FIXTURES.md section 2)."""
    kept = verdicts.filter("keep").select("doc_id", "clean_text")
    return (
        kept.withColumn("sents", segment_udf("clean_text"))
        .select("doc_id", F.posexplode("sents").alias("pos", "sent_text"))
        .select(
            "doc_id",
            (F.col("pos") + 1).alias("sent_num"),
            "sent_text",
        )
    )


def conllu_with_failures(
    sentences: DataFrame, *, annotate_factory=None, store=None
) -> tuple[DataFrame, DataFrame]:
    """Annotated CoNLL-U rendering with the reference's F9 `fail` semantics:
    a document where ANY sentence's annotation raises is dropped from the
    CoNLL-U output entirely and reported in a doc-level failures table —
    the reference caught Stanza RuntimeErrors and recorded the document as
    excluded post-hoc (parse_pile.py:1443-1447,1374-1390; pair with
    snapshots.record_failures to land the verdict flip).

    Returns (conllu_df(doc_id, sent_num, conllu), failures_df(doc_id,
    excl_type='fail', anno_error)). Annotation runs exactly ONCE (the
    reference's single parse loop): the annotated sentence table is
    committed to a SnapshotStore and both the ok and failures splits scan
    the committed parquet — write once, read twice. Nothing is pinned in
    executor storage, so at 100x the corpus the annotation intermediate
    lives on (shared) disk instead of competing with shuffle memory, and a
    long-lived session accumulates no cache across repeated calls.

    `store` is a SnapshotStore or path for the intermediate (committed
    base=True, so repeated runs supersede rather than union). The default
    is a driver-local temp dir, valid ONLY under a local[...] master
    (executors share the driver's filesystem there); on any other master
    the default raises — pass a shared-storage path instead. The default
    dir is registered for removal at driver exit, so repeated calls in a
    long-lived local session don't accumulate orphaned parquet.
    """
    import atexit
    import shutil
    import tempfile

    from puddin_spark.annotate import make_annotate_safe_udf
    from puddin_spark.snapshots import SnapshotStore
    from puddin_spark.udfs import tokenize_udf

    safe = make_annotate_safe_udf(annotate_factory)
    annotated = sentences.withColumn("_r", safe(tokenize_udf("sent_text"))).select(
        *sentences.columns,
        F.col("_r.anno").alias("_anno"),
        F.col("_r.error").alias("_err"),
    )
    if store is None:
        master = sentences.sparkSession.conf.get("spark.master", "")
        if not master.startswith("local"):
            raise ValueError(
                "conllu_with_failures: default temp store is driver-local and "
                f"unreadable by executors under master={master!r} — pass "
                "store=<shared-storage path>"
            )
        tmp = tempfile.mkdtemp(prefix="puddin_anno_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        store = SnapshotStore(tmp)
    elif not isinstance(store, SnapshotStore):
        store = SnapshotStore(store)
    store.commit(annotated, base=True)
    annotated = store.read(sentences.sparkSession)
    failures = (
        annotated.filter(F.col("_err").isNotNull())
        .groupBy("doc_id")
        .agg(F.min("_err").alias("anno_error"))
        .select("doc_id", F.lit("fail").alias("excl_type"), "anno_error")
    )
    ok = annotated.join(failures.select("doc_id"), "doc_id", "left_anti").drop("_err")
    return conllu_skeleton(ok, annotated=True), failures


def conllu_skeleton(
    sentences: DataFrame, with_tokens: bool = False, annotated: bool = False
) -> DataFrame:
    """Render the CoNLL-U comment skeleton per sentence: `# newdoc id` on the
    first sentence of a doc, `# sent_id = <doc>_<n zfilled>` and `# text =`
    (format: parse_pile.py:1496-1515). With with_tokens=True, 10-column token
    lines follow (FORM filled, annotation columns '_'). With annotated=True,
    LEMMA/UPOS/HEAD/DEPREL are filled by the pluggable annotator stage
    (annotate.annotate_udf — the Stanza seam; parse_pile.py:1443,1455),
    leaving XPOS/FEATS/DEPS/MISC as '_' exactly like the reference's
    processors=tokenize,pos,lemma,depparse output."""
    w = Window.partitionBy("doc_id")
    with_max = sentences.withColumn("_max_sent", F.max("sent_num").over(w))
    sid = F.concat(
        F.col("doc_id"),
        F.lit("_"),
        F.expr("lpad(cast(sent_num as string), length(cast(_max_sent as string)), '0')"),
    )
    header = F.when(
        F.col("sent_num") == 1,
        F.concat(F.lit("# newdoc id = "), F.col("doc_id"), F.lit("\n")),
    ).otherwise(F.lit(""))
    parts = [
        header,
        F.lit("# sent_id = "), sid, F.lit("\n"),
        F.lit("# text = "), F.col("sent_text"),
    ]
    if with_tokens or annotated:
        from puddin_spark.udfs import tokenize_udf

        if annotated:
            # an upstream stage (conllu_with_failures) may have annotated
            # already — reuse its `_anno` instead of re-running the UDF
            if "_anno" not in sentences.columns:
                from puddin_spark.annotate import annotate_udf

                with_max = with_max.withColumn(
                    "_anno", annotate_udf(tokenize_udf("sent_text"))
                )
            token_lines = F.expr(
                "concat_ws('\\n', transform(_anno, a ->"
                " concat(cast(a.ix as string), '\\t', a.form, '\\t', a.lemma,"
                " '\\t', a.upos, '\\t_\\t_\\t', cast(a.head as string),"
                " '\\t', a.deprel, '\\t_\\t_')))"
            )
        else:
            with_max = with_max.withColumn("_toks", tokenize_udf("sent_text"))
            token_lines = F.expr(
                "concat_ws('\\n', transform(_toks, (tok, i) ->"
                " concat(cast(i + 1 as string), '\\t', tok,"
                " '\\t_\\t_\\t_\\t_\\t_\\t_\\t_\\t_')))"
            )
        parts += [F.lit("\n"), token_lines]
    return with_max.select(
        "doc_id",
        "sent_num",
        F.concat(*parts).alias("conllu"),
    )
