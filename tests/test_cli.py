"""CLI surface: python -m puddin_spark run/validate/stats (the reference's
script entry points, SURVEY.md section 3) driven as real subprocesses."""
from __future__ import annotations

import json
import subprocess
import sys

JSONL = "/root/reference/demo/data/pile/sample-1.jsonl"


def _run(args, cwd="/root/repo"):
    p = subprocess.run(
        [sys.executable, "-m", "puddin_spark", *args],
        capture_output=True, text=True, cwd=cwd, timeout=400,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last)


def test_cli_run_validate_stats(tmp_path):
    dest = str(tmp_path / "out")
    code, out = _run(
        ["run", "-i", JSONL, "-d", dest, "--partitions", "2", "--master", "local[4]", "--conllu"]
    )
    assert code == 0
    assert out["new_docs"] == 12 and out["total_keep"] == 8  # golden sample-1

    # rerun: resume adds nothing
    code, out2 = _run(
        ["run", "-i", JSONL, "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 0 and out2 == {"snapshot_id": -1, "new_docs": 0}

    code, v = _run(
        ["validate", "-i", JSONL, "-d", dest, "--master", "local[4]"]
    )
    assert code == 0 and v["ok"] and v["n_verdicts"] == 12

    code, s = _run(["stats", "-d", dest, "--master", "local[4]"])
    assert code == 0
    langs = {r["lang"] for r in s}
    assert "ALL" in langs and "en" in langs


def test_cli_stats_without_store(tmp_path):
    code, out = _run(["stats", "-d", str(tmp_path / "nothing"), "--master", "local[4]"])
    assert code == 2 and "error" in out


JSONL2 = "/root/reference/demo/data/pile/sample-2.jsonl"


def test_cli_validate_known_fail_and_overview(tmp_path):
    """validate --known-fail: triaged violations flagged separately and
    excluded from ok; overview prints the snapshot log."""
    dest = str(tmp_path / "out")
    code, out = _run(
        ["run", "-i", JSONL, "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 0 and out["new_docs"] == 12

    # wrong input -> fresh violations, rc 1
    code, v1 = _run(
        ["validate", "-i", JSONL2, "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 1 and not v1["ok"] and v1["by_type"].get("missing")

    # triage every 'missing' as known_fail -> only the fresh ones remain
    import csv

    kf = tmp_path / "kf.csv"
    # known-fail urls are exactly the sample-2 urls absent from the store;
    # triage ALL sample-2-derived urls missing from verdicts
    import hashlib, json as _json

    rows = []
    for line in open(JSONL2, encoding="utf-8-sig"):
        d = _json.loads(line)
        if d["meta"]["pile_set_name"] == "Pile-CC":
            url = "pile://pile/" + hashlib.sha256(d["text"].encode()).hexdigest()[:16]
            rows.append((url, "missing"))
    with open(kf, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["url", "violation"])
        w.writerows(rows)
    code2, v2 = _run(
        ["validate", "-i", JSONL2, "-d", dest, "--partitions", "2",
         "--master", "local[4]", "--known-fail", str(kf)]
    )
    assert v2["n_known_fail"] > 0
    assert "missing" not in v2["by_type"]

    code3, ov = _run(["overview", "-d", dest, "--master", "local[4]"])
    assert code3 == 0
    assert ov["current_snapshot_id"] == 0 and ov["snapshots"][0]["n_docs"] == 12


def test_cli_overview_reads_commit_records(tmp_path, spark, monkeypatch, capsys):
    """overview on a two-commit store starts no Spark session: with
    get_spark made to raise, it prints each snapshot's doc count and the
    current doc and kept counts, equal to what reading the store counts."""
    from puddin_spark import session
    from puddin_spark.__main__ import main
    from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline
    from puddin_spark.synth import SPARK_SCHEMA_DDL, gen_rows

    dest = tmp_path / "out"
    store = SnapshotStore(dest / "verdicts")
    for lo, hi in ((0, 30), (30, 60)):
        pages = spark.createDataFrame(gen_rows(lo, hi, include_fixtures=False), SPARK_SCHEMA_DDL)
        run_resumable_pipeline(spark, pages, store, num_partitions=2)
    recs = store.commits()
    assert len(recs) == 2
    n_docs = [spark.read.parquet(str(store.base / r["data_dir"])).count() for r in recs]
    current = store.read(spark)
    want = (current.count(), current.filter("keep").count())
    assert want[0] == sum(n_docs) and 0 < want[1] < want[0]

    def no_spark(*args, **kwargs):
        raise AssertionError("overview started a Spark session")

    monkeypatch.setattr(session, "get_spark", no_spark)
    assert main(["overview", "-d", str(dest)]) == 0
    ov = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [s["snapshot_id"] for s in ov["snapshots"]] == [0, 1]
    assert [s["n_docs"] for s in ov["snapshots"]] == n_docs
    assert ov["current_snapshot_id"] == 1
    assert (ov["current_docs"], ov["current_keep"]) == want


def test_cli_run_html_fallback_and_blocklist(tmp_path, spark):
    """The two web-table flags through the real CLI: WET-missing rows are
    recovered from html, blocklisted domains are recorded (not removed),
    and validate stays ok over the combined verdicts."""
    from puddin_spark.synth import SPARK_SCHEMA_DDL, gen_rows
    from pyspark.sql import functions as F

    pages_dir = str(tmp_path / "pages")
    pdf = gen_rows(61, 181, include_fixtures=False, htmlonly_every=13)
    spark.createDataFrame(pdf, SPARK_SCHEMA_DDL).write.parquet(pages_dir)
    bl = tmp_path / "blocked.csv"
    bl.write_text("domain\nexample.org\n")  # synth hosts are *.example.org

    dest = str(tmp_path / "out")
    code, out = _run(
        [
            "run", "-i", pages_dir, "-d", dest, "--partitions", "2",
            "--master", "local[4]", "--html-fallback", "--blocklist", str(bl),
        ]
    )
    assert code == 0 and out["new_docs"] > 0
    v = spark.read.parquet(*[
        str(p) for p in (tmp_path / "out" / "verdicts").glob("snap-*/data")
    ])
    # every en row became a blocked verdict (synth domain is blocklisted),
    # including the WET-missing ones recovered via --html-fallback
    assert out["total_keep"] == 0
    assert out["total_docs"] == v.count()
    assert v.filter("excl_type != 'blocked_domain'").count() == 0
    n_html = int((pdf["text"] == "").sum())
    assert n_html > 0
    assert (
        v.filter(F.col("url").startswith("https://synth.example.org/h/")).count()
        == n_html
    )
    code, val = _run(["validate", "-i", pages_dir, "-d", dest, "--master", "local[4]"])
    assert code == 0 and val["ok"], val


def test_cli_export_packs_splits(tmp_path, spark):
    """export: kept verdicts -> split -> per-split packing -> parquet
    partitioned by split; summary tokens add up to the kept corpus; pack
    layout per split is a contiguous stream; --budget cuts the corpus and
    keeps the prefix property (budget docs are a subset of the full
    export)."""
    dest = str(tmp_path / "out")
    code, out = _run(
        ["run", "-i", JSONL, "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 0 and out["total_keep"] == 8
    code, ex = _run(
        ["export", "-d", dest, "--master", "local[4]", "--seq-len", "64",
         "--splits", "train=0.8,val=0.2"]
    )
    assert code == 0 and ex["ok"]
    assert sum(s["docs"] for s in ex["splits"].values()) == 8
    df = spark.read.parquet(ex["out"])
    assert set(df.columns) >= {
        "doc_id", "url", "lang", "clean_text", "n_tokens", "split",
        "pack_id", "pack_offset",
    }
    rows = df.collect()
    assert len(rows) == 8 and {r.split for r in rows} <= {"train", "val"}
    for split in {r.split for r in rows}:
        part = sorted(
            (r for r in rows if r.split == split),
            key=lambda r: (r.pack_id, r.pack_offset, r.doc_id),
        )
        pos = 0
        for r in part:
            assert r.pack_id * 64 + r.pack_offset == pos
            pos += r.n_tokens
    # budgeted export selects a non-empty strict subset with the same salt
    # (corpus is 1725 tokens over 8 docs, largest 580: the first stream doc
    # always fits in 1200, and at least one doc must fall out)
    code, ex2 = _run(
        ["export", "-d", dest, "--master", "local[4]", "--seq-len", "64",
         "--splits", "train=0.8,val=0.2", "--budget", "1200",
         "--out", str(tmp_path / "exp2")]
    )
    assert code == 0 and ex2["ok"]
    sub = {r.doc_id for r in spark.read.parquet(ex2["out"]).collect()}
    assert set() < sub < {r.doc_id for r in rows}
    assert sum(r.n_tokens for r in rows if r.doc_id in sub) <= 1200
    # a budget under the smallest doc keeps nothing — still a clean exit
    # (empty partitioned parquet is summarized from the plan, not re-read)
    code, ex3 = _run(
        ["export", "-d", dest, "--master", "local[4]", "--budget", "10",
         "--out", str(tmp_path / "exp3")]
    )
    assert code == 0 and ex3["ok"] and ex3["splits"] == {}
    # no store -> loud error
    code, err = _run(["export", "-d", str(tmp_path / "nope"), "--master", "local[4]"])
    assert code == 2 and "error" in err


def test_cli_export_sharded_and_tempered(tmp_path, spark):
    """export --shard-size: doc-level sharded layout instead of packing —
    per split, shard_id*size+shard_pos enumerates 0..n-1 with every shard
    full except the last; --temperature 1.0 is the identity mix (the
    corpus is all-en, so any alpha keeps the single stratum whole)."""
    dest = str(tmp_path / "out")
    code, out = _run(
        ["run", "-i", JSONL, "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 0 and out["total_keep"] == 8
    code, ex = _run(
        ["export", "-d", dest, "--master", "local[4]", "--shard-size", "3",
         "--temperature", "1.0", "--splits", "train=0.8,val=0.2",
         "--out", str(tmp_path / "exp")]
    )
    assert code == 0 and ex["ok"] and ex["shard_size"] == 3
    assert "seq_len" not in ex
    df = spark.read.parquet(ex["out"])
    rows = df.collect()
    assert len(rows) == 8  # temperature 1.0 kept every doc
    assert {"shard_id", "shard_pos", "split"} <= set(df.columns)
    for split in {r.split for r in rows}:
        part = sorted(
            (r for r in rows if r.split == split),
            key=lambda r: (r.shard_id, r.shard_pos),
        )
        assert [r.shard_id * 3 + r.shard_pos for r in part] == list(range(len(part)))
        n_shards = part[-1].shard_id + 1
        assert ex["splits"][split]["shards"] == n_shards
        full = sum(1 for r in part if r.shard_id < n_shards - 1)
        assert full == (n_shards - 1) * 3


def test_cli_stream_drains_and_resumes(tmp_path, spark):
    """stream: the availableNow drain through the real CLI — first run
    commits every drop present, a rerun with a new drop adds only the new
    docs (stream checkpoint + store anti-joins), and the rule-gate flags
    parse and compose on the streaming path exactly as they do for `run`
    over the same drop."""
    import csv

    from puddin_spark.synth import SPARK_SCHEMA_DDL, gen_rows

    drops = tmp_path / "drops"
    drops.mkdir()
    pdf = gen_rows(0, 90, include_fixtures=False)
    spark.createDataFrame(pdf, SPARK_SCHEMA_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(str(drops))
    # eval set = 20-word windows of the first pages' text
    evals = tmp_path / "evals.csv"
    with open(evals, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["text"])
        for text in pdf["text"][:5]:
            w.writerow([" ".join(text.split()[4:24])])
    gates = ["--gopher", "--gopher-min-words", "10", "--c4",
             "--decontaminate", str(evals), "--dedup-spans", "8"]
    dest = str(tmp_path / "out")
    code, out = _run(
        ["stream", "-i", str(drops), "-d", dest, "--partitions", "2",
         "--master", "local[4]", *gates]
    )
    assert code == 0 and out["ok"] and out["total_docs"] > 0
    n1 = out["total_docs"]
    code, ran = _run(
        ["run", "-i", str(drops), "-d", str(tmp_path / "ran"),
         "--partitions", "2", "--master", "local[4]", *gates]
    )
    assert code == 0 and ran["total_docs"] == n1

    def labels(d):
        return {
            (r.url, r.keep, r.excl_type)
            for r in spark.read.parquet(*[
                str(p) for p in (tmp_path / d / "verdicts").glob("snap-*/data")
            ]).collect()
        }

    streamed = labels("out")
    assert streamed == labels("ran")
    assert any(e == "contaminated" for _, _, e in streamed)
    spark.createDataFrame(
        gen_rows(90, 120, include_fixtures=False), SPARK_SCHEMA_DDL
    ).coalesce(1).write.mode("append").parquet(str(drops))
    code, out2 = _run(
        ["stream", "-i", str(drops), "-d", dest, "--partitions", "2",
         "--master", "local[4]", "--gopher", "--gopher-min-words", "10", "--c4"]
    )
    assert code == 0 and out2["ok"]
    assert out2["total_docs"] > n1  # only the new drop's docs were added
    v = spark.read.parquet(*[
        str(p) for p in (tmp_path / "out" / "verdicts").glob("snap-*/data")
    ])
    assert v.select("url").distinct().count() == out2["total_docs"]


def test_cli_export_importance_selection(tmp_path, spark):
    """export --importance-target/--importance-budget: the DSIR selection
    step through the real CLI — fit target-vs-corpus weights, keep the
    highest-importance docs within the token budget, then split/pack as
    usual. Selection is a non-empty strict subset respecting the budget."""
    import csv

    dest = str(tmp_path / "out")
    code, out = _run(
        ["run", "-i", JSONL, "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 0 and out["total_keep"] == 8
    kept = spark.read.parquet(*[
        str(p) for p in (tmp_path / "out" / "verdicts").glob("snap-*/data")
    ]).filter("keep").orderBy("doc_id").collect()
    target = tmp_path / "target.csv"
    with open(target, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["text"])
        w.writerow([kept[0].clean_text])
    code, ex = _run(
        ["export", "-d", dest, "--master", "local[4]", "--seq-len", "64",
         "--splits", "train=1.0", "--importance-target", str(target),
         "--importance-budget", "1200", "--out", str(tmp_path / "exp")]
    )
    assert code == 0 and ex["ok"] and ex["importance_budget"] == 1200
    sel = spark.read.parquet(ex["out"]).collect()
    assert 0 < len(sel) < 8  # corpus is 1725 tokens: a strict subset fits
    assert sum(r.n_tokens for r in sel) <= 1200
    # budget requires a target
    code, err = _run(
        ["export", "-d", dest, "--master", "local[4]",
         "--importance-budget", "100", "--out", str(tmp_path / "exp2")]
    )
    assert code == 2 and "error" in err


def test_cli_export_dup_weights(tmp_path, spark):
    """export --dup-weights: soft-dedup columns ride the packed export —
    near-dup twins share a cluster at weight 1/2, unique docs weight 1.0."""
    from pyspark.sql import functions as F
    from puddin_spark.synth import SPARK_SCHEMA_DDL, gen_rows

    pages_dir = str(tmp_path / "pages")
    base = spark.createDataFrame(
        gen_rows(0, 40, include_fixtures=False), SPARK_SCHEMA_DDL
    ).where(r"text not rlike '[^\\x00-\\x7F]'")
    twins = (
        base.limit(3)
        .withColumn("url", F.concat(F.col("url"), F.lit("-t")))
        .withColumn(
            "text", F.concat(F.col("text"), F.lit(" tiny extra tail"))
        )
    )
    base.unionByName(twins).write.parquet(pages_dir)
    dest = str(tmp_path / "out")
    code, out = _run(
        ["run", "-i", pages_dir, "-d", dest, "--partitions", "2",
         "--master", "local[4]"]
    )
    assert code == 0 and out["total_keep"] > 3
    code, ex = _run(
        ["export", "-d", dest, "--master", "local[4]", "--seq-len", "64",
         "--splits", "train=1.0", "--dup-weights",
         "--out", str(tmp_path / "exp")]
    )
    assert code == 0 and ex["ok"]
    rows = spark.read.parquet(ex["out"]).collect()
    assert {"cluster_size", "weight_q"} <= {c for r in rows for c in r.asDict()}
    by_url = {r.url: r for r in rows}
    halves = [r for r in rows if r.weight_q == (1 << 20) // 2]
    fulls = [r for r in rows if r.weight_q == (1 << 20)]
    # each surviving twin pair contributes two half-weight members
    assert len(halves) >= 2 and len(halves) % 2 == 0
    assert len(fulls) == len(rows) - len(halves)
    for r in halves:
        mate = (
            by_url.get(r.url[:-2])
            if r.url.endswith("-t")
            else by_url.get(r.url + "-t")
        )
        assert mate is not None and mate.weight_q == r.weight_q


def test_cli_train_lm_and_score_ppl(tmp_path):
    """train-lm persists the KenLM-format table from the store's kept
    corpus; score-ppl joins the cleaned docs against it. In-domain
    (trained-on) text must score far below the OOV floor (1e7)."""
    dest = str(tmp_path / "out")
    code, out = _run(
        ["run", "-i", JSONL, "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 0 and out["total_keep"] == 8

    code, lm = _run(
        ["train-lm", "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 0, lm
    rpo = lm["rows_per_order"]
    # unigrams < bigrams < trigrams on natural text
    assert int(rpo["1"]) < int(rpo["2"]) < int(rpo["3"])

    code, sc = _run(
        ["score-ppl", "-d", dest, "--partitions", "2", "--master", "local[4]"]
    )
    assert code == 0, sc
    assert sc["n_docs"] == 8 and sc["n_scored"] == 8 and sc["id_col"] == "url"
    # self-perplexity of the training corpus: every position backs off to
    # at worst a real unigram, so even the max sits far below the OOV floor
    assert 1.0 < sc["min_ppl"] <= sc["mean_ppl"] <= sc["max_ppl"] < 1e6

    # CCNet-style export selection: threshold at the mean keeps a strict,
    # ppl-artifact-consistent subset
    import duckdb

    n_under = duckdb.sql(
        f"select count(*) from '{dest}/ppl/*.parquet' where ppl <= {sc['mean_ppl']}"
    ).fetchone()[0]
    assert 0 < n_under < 8
    code, ex = _run(
        ["export", "-d", dest, "--master", "local[4]", "--partitions", "2",
         "--splits", "train=1.0", "--ppl-max", str(sc["mean_ppl"])]
    )
    assert code == 0 and ex["ok"], ex
    assert ex["splits"]["train"]["docs"] == n_under and ex["ppl_max"] == sc["mean_ppl"]


def test_cli_score_ppl_requires_lm(tmp_path):
    code, out = _run(
        ["score-ppl", "-d", str(tmp_path / "none"), "--master", "local[4]"]
    )
    assert code == 2 and "error" in out


def test_cli_export_ppl_counts_unscored(tmp_path, spark):
    """export --ppl-max: kept docs the ppl artifact does not score — absent
    from it, or present with a null ppl — are excluded and counted in
    ppl_unscored_excluded."""
    from puddin_spark.synth import SPARK_SCHEMA_DDL, gen_rows

    pages_dir = str(tmp_path / "pages")
    spark.createDataFrame(
        gen_rows(0, 40, include_fixtures=False), SPARK_SCHEMA_DDL
    ).write.parquet(pages_dir)
    dest = str(tmp_path / "out")
    code, out = _run(
        ["run", "-i", pages_dir, "-d", dest, "--partitions", "2",
         "--master", "local[4]"]
    )
    assert code == 0 and out["total_keep"] > 2
    kept = sorted(
        r.url
        for r in spark.read.parquet(*[
            str(p) for p in (tmp_path / "out" / "verdicts").glob("snap-*/data")
        ]).filter("keep").collect()
    )
    # hand-written artifact: kept[0] is missing, kept[1] has a null ppl
    spark.createDataFrame(
        [(u, 10, None if u == kept[1] else 5.0) for u in kept[1:]],
        "url string, n_tokens int, ppl double",
    ).write.parquet(f"{dest}/ppl")
    code, ex = _run(
        ["export", "-d", dest, "--master", "local[4]", "--partitions", "2",
         "--splits", "train=1.0", "--ppl-max", "10"]
    )
    assert code == 0 and ex["ok"], ex
    assert ex["ppl_unscored_excluded"] == 2
    assert ex["splits"]["train"]["docs"] == len(kept) - 2


def test_cli_compact_all_stores(tmp_path, spark):
    """compact: the verdict store and every near-dedup sidecar store each
    land one new base snapshot, and a rerun of the same input over the
    compacted stores is still a no-op."""
    from puddin_spark.snapshots import SIDECAR_STORES, SnapshotStore
    from puddin_spark.synth import SPARK_SCHEMA_DDL, gen_rows

    pages_dir = str(tmp_path / "pages")
    spark.createDataFrame(
        gen_rows(0, 40, include_fixtures=False), SPARK_SCHEMA_DDL
    ).write.parquet(pages_dir)
    dest = str(tmp_path / "out")
    run = ["run", "-i", pages_dir, "-d", dest, "--partitions", "2",
           "--master", "local[4]", "--near-dedup", "--embedding-near-dedup"]
    # two batches, so every store has history for compact to merge
    code, out = _run([*run, "--limit", "20"])
    assert code == 0 and out["new_docs"] > 0
    code, out = _run(run)
    assert code == 0 and out["snapshot_id"] == 1

    code, comp = _run(["compact", "-d", dest, "--master", "local[4]", "--gc-age", "0"])
    assert code == 0
    names = ["verdicts", *(f"verdicts/{s}" for s in SIDECAR_STORES)]
    assert sorted(comp) == sorted(names) and len(names) == 5
    for name in names:
        recs = SnapshotStore(tmp_path / "out" / name).commits()
        # gc dropped the superseded records: the base snapshot is all that's left
        assert [r["snapshot_id"] for r in recs] == [comp[name]["snapshot_id"]]
        assert comp[name]["snapshot_id"] == 2 and recs[-1]["base"], name

    code, again = _run(run)
    assert code == 0 and again["new_docs"] == 0
