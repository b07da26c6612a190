"""Completeness / invariant validation job.

Port of the reference's validation subsystem (confirm_doc_ids.py +
validate_data_group.py, SURVEY.md section 3.2) as a single Spark job of
joins — no process pool, no egrep:

invariant (confirm_doc_ids.py:3-27): every selected input document appears
EXACTLY ONCE across keep ∪ drop; no document is both kept and dropped; no
kept document lacks clean text; no dropped document has clean text.

Returns a small summary dict (counts only — never collects documents) and a
violations DataFrame for drill-down.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puddin_spark.pipeline import dedup_first


def validate_run(
    pages: DataFrame,
    verdicts: DataFrame,
    *,
    dedup: bool = True,
    digest_aware: bool = False,
    known_fail: DataFrame | None = None,
) -> tuple[dict, DataFrame]:
    """Check verdicts against the pages input they were produced from:
    its English rows, the only language the pipeline selects.

    digest_aware=True validates an INCREMENTAL store (run_resumable_pipeline
    output): a url is not 'missing' if its text digest was committed under
    another url — the store's global keep-first dedup contract.

    known_fail: previously-triaged violations (url, violation) — the
    reference's known_fail allowlist (validate_data_group.py:381-419).
    Matching violations are still reported but flagged known_fail=true and
    excluded from `by_type` / `ok`, so reruns don't re-alarm on old triage;
    fresh violations alone decide `ok`.
    """
    selected = pages.filter(F.col("lang") == "en")
    if dedup:
        selected = dedup_first(selected)
    sel_urls = selected.select("url")
    got_urls = verdicts.select("url")

    not_covered = sel_urls.join(got_urls, "url", "left_anti")
    if digest_aware and "text_sha" in verdicts.columns:
        sel_sha = selected.select("url", F.sha2("text", 256).alias("_sha"))
        not_covered = (
            not_covered.join(sel_sha, "url")
            .join(
                verdicts.select(F.col("text_sha").alias("_sha")).distinct(),
                "_sha",
                "left_anti",
            )
            .select("url")
        )
    missing = not_covered.withColumn(
        "violation", F.lit("missing")  # F10 'missing*' (validate_data_group.py:410-416)
    )
    extra = got_urls.join(sel_urls, "url", "left_anti").withColumn(
        "violation", F.lit("extra")
    )
    dup = (
        verdicts.groupBy("url")
        .count()
        .filter("count > 1")
        .select("url", F.lit("duplicate").alias("violation"))
    )
    # J4-analog: invalid states within a verdict row
    # (validate_data_group.py:475-493 invalid-exclusions check)
    bad_state = verdicts.filter(
        ("keep and excl_type is not null")
    ).select("url", F.lit("kept_with_label").alias("violation"))
    bad_text = verdicts.filter(
        "(keep and clean_text is null) or (not keep and clean_text is not null)"
    ).select("url", F.lit("text_state").alias("violation"))

    violations = (
        missing.unionByName(extra)
        .unionByName(dup)
        .unionByName(bad_state)
        .unionByName(bad_text)
    )
    if known_fail is not None:
        kf = (
            known_fail.select("url", "violation")
            .distinct()
            .withColumn("known_fail", F.lit(True))
        )
        # the allowlist is triage output — small; broadcast-friendly join
        violations = violations.join(
            F.broadcast(kf), ["url", "violation"], "left_outer"
        ).withColumn("known_fail", F.coalesce("known_fail", F.lit(False)))
    else:
        violations = violations.withColumn("known_fail", F.lit(False))
    grouped = (
        violations.groupBy("violation", "known_fail")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    counts = {r["violation"]: r["n"] for r in grouped if not r["known_fail"]}
    known_counts = {r["violation"]: r["n"] for r in grouped if r["known_fail"]}
    summary = {
        "n_selected": sel_urls.count(),
        "n_verdicts": got_urls.count(),
        "n_violations": sum(counts.values()),
        "by_type": counts,
        "known_fail_by_type": known_counts,
        "n_known_fail": sum(known_counts.values()),
        "ok": not counts,
    }
    return summary, violations
