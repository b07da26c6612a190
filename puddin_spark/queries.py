"""Driver-gate query catalog: every operator exposed as a (spark, sf_dir) ->
DataFrame callable plus a DuckDB-oracle SQL twin.

Design rules (driver contract, __spark_entry__.py):
- Spark result and oracle result must match on row count, schema, and
  order-insensitive value hash. Every computed column is aliased identically
  on both sides; floats are rounded INSIDE both queries; sums over BIGINT are
  cast (DuckDB widens to HUGEINT otherwise).
- All randomness is md5-based so both engines derive identical hashes.
- Python-re-only patterns (backreferences, the reference's quirks) run in
  pandas UDFs on the Spark side; oracle SQL uses RE2-safe equivalents that
  are exact on this corpus (documents.text is single-spaced lowercase ASCII
  words — verified; the suffix-injection CASE below is the only source of
  markup/punctuation, so equivalence is total, and tests/test_queries.py
  replays the driver comparison to prove it).

The suffix-injection view: documents.text alone trips no filter rule, so
queries that exercise the keep/drop battery append a deterministic
rule-tripping suffix keyed on doc_id % 10 (FIXTURES.md strata, SQL-side so
the oracle sees the identical corpus).
"""
from __future__ import annotations

import os
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from puddin_spark.operators import dedup, similarity, textstats
from puddin_spark.operators.multimodal import extract_media_meta, sample_frames
from puddin_spark.pipeline import dedup_first, quality_pipeline
from puddin_spark.udfs import classify_udf, scrub_stage1_udf, segment_udf

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = False
) -> DataFrame:
    """Scan a catalog table; rebalance=True splits single-chunk inputs.

    The sf-dir tables are single parquet files with ONE row group, so the
    scan cannot split below one task and every downstream expression runs on
    a single core regardless of cluster width (profiled: the minhash family
    spent its whole wall on 2 tasks). Guide section 2.5: input skew from an
    unsplittable file -> repartition immediately after the read. Opt-in per
    call site because the exchange only pays for itself when the per-row
    downstream work dominates the row shuffle (text/UDF-heavy operators);
    for scan+aggregate queries the partial agg on one task is cheaper than
    shuffling the rows (measured: tpch_q1 0.29 s -> 1.09 s under a blanket
    rebalance). No-op whenever the scan already yields defaultParallelism
    splits — i.e. at any real multi-file scale."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return similarity.rebalanced(df) if rebalance else df


# --- shared SQL fragments (valid in BOTH Spark SQL and DuckDB) ---

AUG_SUFFIX_CASE = """
case cast(doc_id % 10 as int)
  when 0 then ' <nowiki> markup tail'
  when 1 then ' <div class="x">inline markup</div>'
  when 2 then ' cfg {"a":{"b": 1}} end'
  when 3 then ' flag == true here'
  when 4 then ' config_value broken'
  when 5 then ' try mp4converter now'
  when 6 then ' assault...related items'
  when 7 then ' [[page|label}} wikitable'
  else ''
end
""".strip()

# DuckDB-side classify cascade on column `t` (RE2; see module docstring for
# the html-surrogate note: RE2 has no backreferences, but on this corpus the
# only open/close tag pair is the injected one, so the surrogate is exact).
ORACLE_CLASSIFY_CASE = r"""
case
  when regexp_matches(t, '<__?UNK__>') then '?unk'
  when regexp_matches(t, '<nowiki>')
    or regexp_matches(t, '[{[]{2,}[^|}\]]+\|[^}\]]*\}{2,}') then 'wiki'
  when regexp_matches(t, '<\w+[^<]*>[^<]*</\w+>') then 'html'
  when regexp_matches(t, '{"\w+":{"\w+":') then 'json'
  when regexp_matches(t, '(?i)(=|[=!><][=!><])\s?(self|true|false|\w+\.?\w*)') then 'code'
  when regexp_matches(t, '\w*?_\w+?') then '_wrd'
  when regexp_matches(t, '(?i)\d*[a-z]+\d+[a-z]*\d*[a-z]*|\d{3:}[a-z]+[a-z]*\d*[a-z]*') then 'a0wrd'
  when regexp_matches(t, '\b[a-z]+[^\w\s\-''/\\&@]+?[a-zA-Z]+\b') then 'punc'
  else null
end
""".strip()

# DuckDB scrub C2-C4 chain on column `t` (Python-re quirks '{2:3}' are RE2
# literals too — verified). Global flag 'g' matches re.sub semantics.
ORACLE_SCRUB1 = (
    r"regexp_replace(regexp_replace(regexp_replace(t,"
    r" '\[url=[^\]]*]([^[]*)\[/url\]', '\1', 'g'),"
    r" 'https?://\S*\s|www\.\S*\s|[\w\d]+\.[\w\d]+\.[\w\d]+\S*\s|http://www\.\w+\.\w{2:3}', ' ', 'g'),"
    r" '([a-z]+)([A-Z])|([a-z][.!?,;:]+)([A-Z])', '\1\3 \2\4', 'g')"
)

_SW_LIST = "[" + ",".join(f"'{w}'" for w in textstats.EN_STOPWORDS) + "]"


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no rebalance: the classify battery is ~56 us/doc over ~300 B docs, so
    # the repartition exchange costs more than 32-wide execution saves
    # (A/B'd at sf0.1: classify_battery 0.53 s -> 0.75 s with rebalance)
    return read_table(spark, sf_dir, "documents").withColumn(
        "t", F.expr(f"concat(text, {AUG_SUFFIX_CASE})")
    )


def _neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-dup mutants (id+1000000, ' extra tail words here')."""
    d = read_table(spark, sf_dir, "documents", rebalance=True).select(
        "doc_id", "text", "source"
    )
    m = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail words here")).alias("text"),
        "source",
    )
    return d.unionByName(m)


ORACLE_NEARDUP = """
select doc_id, text, source from documents
union all
select doc_id + 1000000 as doc_id, text || ' extra tail words here' as text, source
from documents
"""

# -------------------- queries --------------------


def q_langid_gate(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


O_LANGID_GATE = """
select source, count(*) as n_docs, round(avg(n_chars), 4) as avg_chars
from documents where lang = 'en' group by source
"""


def q_classify_battery(spark, sf_dir):
    return (
        _aug_docs(spark, sf_dir)
        .select("doc_id", classify_udf(F.col("t")).alias("excl_type"))
        .withColumn("keep", F.col("excl_type").isNull())
    )


O_CLASSIFY_BATTERY = f"""
with aug as (select doc_id, text || {AUG_SUFFIX_CASE} as t from documents)
select doc_id, {ORACLE_CLASSIFY_CASE} as excl_type,
       ({ORACLE_CLASSIFY_CASE}) is null as keep
from aug
"""


def q_rule_hit_counts(spark, sf_dir):
    return (
        _aug_docs(spark, sf_dir)
        .select(F.coalesce(classify_udf(F.col("t")), F.lit("keep")).alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("n"))
    )


O_RULE_HIT_COUNTS = f"""
with aug as (select doc_id, text || {AUG_SUFFIX_CASE} as t from documents),
lab as (select coalesce({ORACLE_CLASSIFY_CASE}, 'keep') as label from aug)
select label, count(*) as n from lab group by label
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark, sf_dir):
    """Pivot (long -> wide): per-user event-type counts as columns. The
    explicit value list matters at scale — pivot without one runs an extra
    distinct-collect job over the full table to discover the columns."""
    e = read_table(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))  # count(*) is rejected inside Pivot
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


O_EVENTS_PIVOT = f"""
select user_id,
  {", ".join(
      f"cast(count(case when event_type = '{t}' then 1 end) as bigint) as n_{t}"
      for t in EVENT_TYPES
  )}
from events group by user_id
"""


def q_scrub_urls(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents").withColumn(
        "t",
        F.expr(
            "concat('[url=http://ex.org/', cast(doc_id as string), ']anchor one[/url] ',"
            " text, ' see https://news.example.com/page now.')"
        ),
    )
    return d.select("doc_id", F.md5(scrub_stage1_udf(F.col("t"))).alias("mid_md5"))


O_SCRUB_URLS = f"""
with aug as (
  select doc_id,
         '[url=http://ex.org/' || cast(doc_id as varchar) || ']anchor one[/url] '
         || text || ' see https://news.example.com/page now.' as t
  from documents)
select doc_id, md5({ORACLE_SCRUB1}) as mid_md5 from aug
"""


def q_pipeline_verdicts(spark, sf_dir):
    """Flagship: the full quality pipeline over a web-pages view derived from
    documents (url/warc_ts/html/text/lang per input_hint)."""
    pages = _aug_docs(spark, sf_dir).select(
        F.expr("concat('https://docs.example.org/', lpad(cast(doc_id as string), 8, '0'))").alias("url"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, cast(doc_id as int))").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("t").alias("text"),
        "lang",
    )
    v = quality_pipeline(pages)
    return v.select(
        "url",
        "keep",
        "excl_type",
        F.md5(F.coalesce("clean_text", F.lit(""))).alias("clean_md5"),
    )


O_PIPELINE_VERDICTS = f"""
with aug as (
  select doc_id, lang,
         'https://docs.example.org/' || lpad(cast(doc_id as varchar), 8, '0') as url,
         text || {AUG_SUFFIX_CASE} as t
  from documents
  where lang = 'en'),
scrubbed as (
  select url, {ORACLE_SCRUB1} as mid from aug),
labeled as (
  select url, mid, {ORACLE_CLASSIFY_CASE.replace("(t,", "(mid,")} as excl_type
  from scrubbed)
select url, excl_type is null as keep, excl_type,
       md5(case when excl_type is null then mid else '' end) as clean_md5
from labeled
"""


def q_dedup_exact_first(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return dedup_first(d.unionByName(dup), order=("doc_id",)).select("doc_id")


O_DEDUP_EXACT_FIRST = """
with u as (
  select doc_id, text from documents
  union all
  select doc_id + 2000000 as doc_id, text from documents where doc_id % 5 = 0),
r as (select doc_id, row_number() over (partition by sha256(text) order by doc_id) as rn from u)
select doc_id from r where rn = 1
"""


def q_anti_join_resume(spark, sf_dir):
    """Resume semantics: input ∖ committed (J1/F12)."""
    d = read_table(spark, sf_dir, "documents")
    committed = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return d.join(committed, "doc_id", "left_anti").select("doc_id", "lang")


O_ANTI_JOIN_RESUME = """
select doc_id, lang from documents
where doc_id not in (select doc_id from documents where doc_id % 7 = 0)
"""


def q_slice_assignment(spark, sf_dir):
    """Fixed-size slicing + hierarchical ids (O1/O2/O3/P5; 50-doc slices).
    Global order comes from the two-phase partition-offset numbering — no
    single-task sort (reference_ids.with_global_row_number)."""
    from puddin_spark.reference_ids import with_global_row_number

    d = read_table(spark, sf_dir, "documents").filter("lang = 'en'")
    return (
        with_global_row_number(d, ["doc_id"], rn_col="rn")
        .select(
            "doc_id",
            F.floor((F.col("rn") - 1) / 50).alias("slice_num"),
            F.expr(
                "concat('doc_', lpad(cast(floor((rn - 1) / 50) + 1 as string), 3, '0'),"
                " '.', lpad(cast(rn - floor((rn - 1) / 50) * 50 as string), 2, '0'))"
            ).alias("text_id"),
        )
    )


# NB: cast(double as bigint) ROUNDS in DuckDB but truncates in Spark — use
# floor() on both sides for the integer division
O_SLICE_ASSIGNMENT = """
with r as (select doc_id, row_number() over (order by doc_id) as rn
           from documents where lang = 'en')
select doc_id, cast(floor((rn - 1) / 50) as bigint) as slice_num,
       'doc_' || lpad(cast(cast(floor((rn - 1) / 50) as bigint) + 1 as varchar), 3, '0')
       || '.' || lpad(cast(rn - cast(floor((rn - 1) / 50) as bigint) * 50 as varchar), 2, '0') as text_id
from r
"""


def q_validation_status(spark, sf_dir):
    """The completeness checker as joins (J2/J3 + derive success/missing,
    validate_data_group.py:243-419)."""
    aug = _aug_docs(spark, sf_dir).filter("lang = 'en'")
    labeled = aug.select("doc_id", classify_udf(F.col("t")).alias("excl_type"))
    raw = aug.select("doc_id")
    parsed = labeled.filter("excl_type is null").select(
        "doc_id", F.lit(1).alias("parsed")
    )
    excl = labeled.filter("excl_type is not null")
    return (
        raw.join(parsed, "doc_id", "left_outer")
        .join(excl, "doc_id", "left_outer")
        .select(
            "doc_id",
            (F.col("parsed") == 1).alias("success"),
            "excl_type",
            (F.col("parsed").isNull() & F.col("excl_type").isNull()).alias("missing"),
        )
    )


O_VALIDATION_STATUS = f"""
with aug as (select doc_id, text || {AUG_SUFFIX_CASE} as t from documents where lang = 'en'),
lab as (select doc_id, {ORACLE_CLASSIFY_CASE} as excl_type from aug)
select doc_id, case when excl_type is null then true else null end as success,
       excl_type, false as missing
from lab
"""


def q_stats_rollup(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "documents")
        .rollup("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


O_STATS_ROLLUP = """
select coalesce(lang, 'ALL') as lang, coalesce(source, 'ALL') as source,
       count(*) as n_docs, cast(sum(n_chars) as bigint) as total_chars
from documents group by rollup(lang, source)
"""


def q_doc_stats_describe(spark, sf_dir):
    from puddin_spark.stats import describe_numeric

    return describe_numeric(
        read_table(spark, sf_dir, "documents"), "n_chars", ["lang"]
    )


# exact linear-interpolation quantiles on both sides (Spark percentile ==
# DuckDB quantile_cont) — the full pandas describe() surface of
# statify_puddin.py:281-311 (count/mean/std/min/25%/50%/75%/max).
# stats.describe_numeric(approx=True) is the bounded-memory sketch variant
# for the 100 TB path (not SQL-oracle-expressible; pytest-toleranced).
O_DOC_STATS_DESCRIBE = """
select lang, count(*) as n, round(avg(n_chars), 4) as mean_n_chars,
       min(n_chars) as min_n_chars, max(n_chars) as max_n_chars,
       round(stddev_samp(n_chars), 4) as sd_n_chars,
       round(quantile_cont(n_chars, 0.25), 4) as p25_n_chars,
       round(quantile_cont(n_chars, 0.5), 4) as median_n_chars,
       round(quantile_cont(n_chars, 0.75), 4) as p75_n_chars
from documents group by lang
"""


def q_dup_detection_window(spark, sf_dir):
    """A6: rows whose text occurs more than once (on the exact-dup view)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    u = d.unionByName(dup)
    w = Window.partitionBy("text")
    return (
        u.withColumn("n_copies", F.count("*").over(w))
        .filter("n_copies > 1")
        .select("doc_id", "n_copies")
    )


O_DUP_DETECTION_WINDOW = """
with u as (
  select doc_id, text from documents
  union all
  select doc_id + 2000000 as doc_id, text from documents where doc_id % 5 = 0),
c as (select doc_id, count(*) over (partition by text) as n_copies from u)
select doc_id, n_copies from c where n_copies > 1
"""


def q_union_accumulate(spark, sf_dir):
    """A7: unionByName with missing columns."""
    d = read_table(spark, sf_dir, "documents")
    a = d.filter("doc_id % 2 = 0").select("doc_id", "lang", "n_chars")
    b = d.filter("doc_id % 2 = 1").select("doc_id", "lang")
    return (
        a.unionByName(b, allowMissingColumns=True)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("n_chars", F.lit(0))).cast("bigint").alias("chars_even"),
        )
    )


O_UNION_ACCUMULATE = """
with u as (
  select doc_id, lang, n_chars from documents where doc_id % 2 = 0
  union all
  select doc_id, lang, null as n_chars from documents where doc_id % 2 = 1)
select lang, count(*) as n, cast(sum(coalesce(n_chars, 0)) as bigint) as chars_even
from u group by lang
"""


def q_top_event_per_user(spark, sf_dir):
    """O4: latest event per user (top-1 by timestamp)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


O_TOP_EVENT_PER_USER = """
with r as (select *, row_number() over (partition by user_id order by ts desc, event_id desc) as rn
           from events)
select user_id, event_id, event_type, round(value, 6) as value from r where rn = 1
"""


def q_events_hourly(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


O_EVENTS_HOURLY = """
select date_trunc('hour', ts) as hour, event_type, count(*) as n,
       round(sum(value), 4) as total_value
from events group by 1, 2
"""


def q_tpch_q1(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


O_TPCH_Q1 = """
select l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) as sum_qty,
       round(sum(l_extendedprice), 2) as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
       round(avg(l_quantity), 4) as avg_qty,
       round(avg(l_discount), 4) as avg_disc,
       count(*) as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-02 00:00:00'
group by l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


O_TPCH_Q3 = """
select l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING'
  and o_orderdate < timestamp '1998-03-15 00:00:00'
  and l_shipdate > timestamp '1998-03-15 00:00:00'
group by l_orderkey, o_orderdate, o_orderpriority
order by revenue desc, l_orderkey
limit 10
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): the 6-table join exercise. Plan
    shape: nation/region/supplier are broadcast dims; the only shuffles are
    the orders–lineitem join and the final nation rollup. The "local"
    predicate (customer and supplier share a nation) rides the join."""
    r = read_table(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    n = read_table(spark, sf_dir, "nation")
    s = read_table(spark, sf_dir, "supplier")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc())
    )


O_TPCH_Q5 = """
select n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join supplier on l_suppkey = s_suppkey
join customer on o_custkey = c_custkey
join nation on s_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
where c_nationkey = s_nationkey
  and r_name = 'ASIA'
  and o_orderdate >= timestamp '1996-01-01 00:00:00'
  and o_orderdate <  timestamp '1997-01-01 00:00:00'
group by n_name
order by revenue desc
"""


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecast revenue): pure scan + pushed filter + one global
    agg — the pushdown showcase (PushedFilters carries all three predicates
    to the parquet reader)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


O_TPCH_Q6 = """
select round(sum(l_extendedprice * l_discount), 2) as revenue,
       count(*) as n_items
from lineitem
where l_shipdate >= timestamp '1996-01-01 00:00:00'
  and l_shipdate <  timestamp '1997-01-01 00:00:00'
  and l_discount between 0.04 and 0.06
  and l_quantity < 24
"""


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): aggregate-then-semi-join. The
    HAVING pre-aggregation runs on lineitem alone (partial agg map-side),
    and only qualifying orderkeys join back — the cheap side drives."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


O_TPCH_Q18 = """
with big as (
  select l_orderkey, round(sum(l_quantity), 2) as total_qty
  from lineitem group by l_orderkey having round(sum(l_quantity), 2) > 300)
select c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 2) as o_totalprice, total_qty
from big
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
order by o_totalprice desc, o_orderkey
limit 100
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _neardup_docs(spark, sf_dir), "doc_id", "text",
        num_hashes=16, band_size=2, shingle_k=3, jaccard_threshold=0.5,
        shingle_mode="word",
    )


def _oracle_minhash() -> str:
    """DuckDB twin of operators.dedup.minhash_lsh_pairs — identical md5
    scheme, so candidates (not just verified pairs) agree exactly."""
    mh = ", ".join(
        f"list_min(list_transform(sh, s -> md5(s || ':{j}')))" for j in range(16)
    )
    return f"""
with u as ({ORACLE_NEARDUP}),
sh as (
  select doc_id as id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
           i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' '))) as sh
  from u),
sig as (select id, sh, [{mh}] as mh from sh),
bands as (
  select id, sh, bix as band_ix,
         md5(mh[2*bix+1] || '|' || mh[2*bix+2]) as band_key
  from sig, (select unnest(range(0, 8)) as bix) b
),
cand as (
  select distinct a.id as id_a, b.id as id_b, a.sh as sh_a, b.sh as sh_b
  from bands a join bands b using (band_ix, band_key)
  where a.id < b.id),
jac as (
  select id_a, id_b,
         round(cast(len(list_intersect(sh_a, sh_b)) as double)
               / len(list_distinct(list_concat(sh_a, sh_b))), 6) as jaccard
  from cand)
select id_a, id_b, jaccard from jac where jaccard >= 0.5
"""


def q_neardup_resolution(spark, sf_dir):
    """The resolution step between near-dup PAIRS and a deduplicated
    corpus: connected components over the minhash pair graph, each doc
    mapped to its cluster's minimum id (the canonical keep). Spark runs
    iterative min-label propagation (dedup.resolve_duplicate_clusters);
    the oracle computes the same fixpoint with a recursive CTE. The mutant
    corpus gives real transitivity: organic duplicate texts chain with
    their mutants into clusters larger than single pairs."""
    pairs = dedup.minhash_lsh_pairs(
        _neardup_docs(spark, sf_dir), "doc_id", "text",
        num_hashes=16, band_size=2, shingle_k=3,
        jaccard_threshold=0.5, shingle_mode="word",
    )
    return dedup.resolve_duplicate_clusters(pairs)


def _oracle_neardup_resolution() -> str:
    return f"""
with recursive pairs as (select id_a, id_b from ({_oracle_minhash()}) q),
edges as (select id_a as src, id_b as dst from pairs
          union select id_b, id_a from pairs),
reach as (
  select src as id, dst as reach from edges
  union select src as id, src as reach from edges
  union select r.id, e.dst from reach r join edges e on r.reach = e.src)
select id, min(reach) as root from reach group by id
"""


def q_dup_weights(spark, sf_dir):
    """Soft dedup (dedup.duplicate_cluster_weights): every document gets
    its near-dup cluster root, cluster size, and the quantized 1/size
    training weight (weight_q = 2^20 div size) — the downweight-don't-
    drop alternative to cluster removal. Pairs and resolution reuse the
    minhash machinery of neardup_resolution; docs outside any cluster
    weight 1.0. The oracle extends the recursive-CTE fixpoint with a
    per-root count and a left join back to the full doc universe."""
    docs = _neardup_docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text",
        num_hashes=16, band_size=2, shingle_k=3,
        jaccard_threshold=0.5, shingle_mode="word",
    )
    return dedup.duplicate_cluster_weights(docs, pairs)


def _oracle_dup_weights() -> str:
    return f"""
with recursive pairs as (select id_a, id_b from ({_oracle_minhash()}) q),
edges as (select id_a as src, id_b as dst from pairs
          union select id_b, id_a from pairs),
reach as (
  select src as id, dst as reach from edges
  union select src as id, src as reach from edges
  union select r.id, e.dst from reach r join edges e on r.reach = e.src),
roots as (select id, min(reach) as root from reach group by id),
sizes as (select root, count(*) as n from roots group by root),
u as ({ORACLE_NEARDUP})
select u.doc_id,
       coalesce(r.root, u.doc_id) as cluster_root,
       cast(coalesce(s.n, 1) as bigint) as cluster_size,
       cast(1048576 // coalesce(s.n, 1) as bigint) as weight_q
from u
left join roots r on u.doc_id = r.id
left join sizes s on r.root = s.root
"""


def q_simhash_values(spark, sf_dir):
    return dedup.simhash_table(
        read_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _oracle_simhash_expr(tok_list: str) -> str:
    """64-bit simhash as portable SQL: per bit b, sign of the sum over
    distinct tokens of (bit b of the first-8-bytes-of-md5 int)."""
    terms = []
    for b in range(64):
        pos = 16 - b // 4  # 1-based hex char position (char 1 = bits 63..60)
        k = b % 4
        contrib = (
            f"case when ((strpos('0123456789abcdef', substr(md5(tok), {pos}, 1)) - 1)"
            f" >> {k}) & 1 = 1 then 1 else -1 end"
        )
        bit = f"(list_sum(list_transform({tok_list}, tok -> {contrib})) > 0)"
        if b == 63:
            terms.append(f"case when {bit} then -9223372036854775807 - 1 else 0 end")
        else:
            terms.append(f"case when {bit} then cast({1 << b} as bigint) else 0 end")
    return " + ".join(terms)


def _oracle_simhash_values() -> str:
    expr = _oracle_simhash_expr("toks")
    return f"""
with t as (select doc_id as id,
                  list_distinct(string_split_regex(trim(text), '\\s+')) as toks
           from documents)
select id, cast({expr} as bigint) as simhash from t
"""


def q_simhash_near_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(
        _neardup_docs(spark, sf_dir), "doc_id", "text", max_hamming=3
    )


def _oracle_simhash_pairs() -> str:
    expr = _oracle_simhash_expr("toks")
    return f"""
with u as ({ORACLE_NEARDUP}),
t as (select doc_id as id,
             list_distinct(string_split_regex(trim(text), '\\s+')) as toks
      from u),
s as (select id, cast({expr} as bigint) as simhash from t)
select a.id as id_a, b.id as id_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as int) as hamming
from s a join s b on a.id < b.id
where bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Blocked-quadratic exact verifier, demonstrated on a 5-source subset:
    the at-scale candidate generator is minhash_lsh_pairs — all-pairs
    verification is what you run on candidates, never on a full corpus."""
    sub = _neardup_docs(spark, sf_dir).filter(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    return dedup.ngram_jaccard_pairs(
        sub, "doc_id", "text", block_col="source", n=3, threshold=0.5,
    )


O_NGRAM_JACCARD = f"""
with u0 as ({ORACLE_NEARDUP}),
u as (select * from u0 where source in ('src0','src1','src2','src3','src4')),
g as (select doc_id as id, source as blk,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
               i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' '))) as ng
      from u)
select id_a, id_b, jaccard from (
  select a.id as id_a, b.id as id_b,
         round(cast(len(list_intersect(a.ng, b.ng)) as double)
               / len(list_distinct(list_concat(a.ng, b.ng))), 6) as jaccard
  from g a join g b using (blk)
  where a.id < b.id)
where jaccard >= 0.5
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.decontaminate): the eval set is a
    31-word window (tokens 5..35) of every 50th document with >= 40
    tokens, so exactly those source documents carry 13-gram overlaps with
    it — flagged with the count of contaminated grams. Both engines build
    the eval snippets from the same token slice; the word-soup corpus
    makes cross-document 13-gram collisions impossible, so the flag set is
    deterministic. Scale shape: eval grams broadcast; only matching
    (id, gram) rows shuffle."""
    from puddin_spark.operators import dedup as dedup_ops

    d = read_table(spark, sf_dir, "documents")
    toks = "split(trim(text), '\\\\s+')"
    ev = (
        d.filter("doc_id % 50 = 0")
        .filter(F.expr(f"size({toks}) >= 40"))
        .select(F.expr(f"concat_ws(' ', slice({toks}, 5, 31))").alias("text"))
    )
    out = dedup_ops.decontaminate(d, ev, n=13)
    return out.select(F.col("id").alias("doc_id"), "n_contaminated")


O_DECONTAMINATE = """
with toks as (
  select doc_id, string_split_regex(trim(text), '\\s+') as t from documents),
ev as (
  select array_to_string(t[5:35], ' ') as text
  from toks where doc_id % 50 = 0 and len(t) >= 40),
evg as (
  select distinct unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 12, 1) + 1),
           i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+12], ' '))))
         as g
  from ev),
dg as (
  select doc_id as id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 12, 1) + 1),
           i -> array_to_string(t[i:i+12], ' ')))) as g
  from toks)
select id as doc_id, count(*) as n_contaminated
from dg join evg using (g)
group by id
"""


def q_repeated_spans(spark, sf_dir):
    """Cross-document repeated-span detection (dedup.repeated_spans) —
    the ExactSubstr convention (Lee et al. 2022) at a 15-token window.
    The word-soup corpus has no natural cross-doc spans, so both engines
    union in a PREFIX-SHIFTED copy of every 20th document ('qq zz ' +
    text, doc_id + 100000): every window in the original is repeated in
    the copy two token positions later, which makes the (id, pos)
    alignment itself part of the check. hash_impl='md5' for engine
    parity (production default xxhash64: 24-byte shuffle rows)."""
    from puddin_spark.operators import dedup as dedup_ops

    d = read_table(spark, sf_dir, "documents")
    aug = d.where("doc_id % 20 = 0").selectExpr(
        "doc_id + 100000 as doc_id", "concat('qq zz ', text) as text"
    )
    u = d.select("doc_id", "text").unionByName(aug)
    out = dedup_ops.repeated_spans(u, window=15, hash_impl="md5")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("pos").cast("bigint").alias("pos"),
        "span_hash",
    )


O_REPEATED_SPANS = """
with u as (
  select doc_id, text from documents
  union all
  select doc_id + 100000, 'qq zz ' || text from documents
  where doc_id % 20 = 0),
toks as (
  select doc_id, string_split_regex(trim(text), '\\s+') as t from u),
spans as (
  select doc_id as id, cast(i as bigint) as pos,
         md5(array_to_string(t[i:i+14], ' ')) as h
  from toks cross join lateral (
    select unnest(range(1, len(t) - 15 + 2)) as i) r
  where len(t) >= 15),
d as (select h from spans group by h having count(distinct id) >= 2)
select s.id as doc_id, s.pos, s.h as span_hash
from spans s join d using (h)
"""


def q_trim_repeated_spans(spark, sf_dir):
    """Keep-one span removal (dedup.trim_repeated_spans) over the same
    prefix-shifted duplicate injection as repeated_spans: rank-1
    occurrences (the lower doc_id — here always the original) keep their
    text; every other occurrence's [pos, pos+15) token interval is cut,
    so each injected copy collapses to its 'qq zz' prefix while all
    originals survive verbatim (modulo the single-space re-join both
    engines apply uniformly). The oracle replays the rank window and the
    token-interval NOT EXISTS mask row-by-row."""
    from puddin_spark.operators import dedup as dedup_ops

    d = read_table(spark, sf_dir, "documents")
    aug = d.where("doc_id % 20 = 0").selectExpr(
        "doc_id + 100000 as doc_id", "concat('qq zz ', text) as text"
    )
    u = d.select("doc_id", "text").unionByName(aug)
    out = dedup_ops.trim_repeated_spans(u, window=15, hash_impl="md5")
    return out.select("doc_id", "trimmed_text")


O_TRIM_REPEATED_SPANS = """
with u as (
  select doc_id, text from documents
  union all
  select doc_id + 100000, 'qq zz ' || text from documents
  where doc_id % 20 = 0),
toks as (
  select doc_id, string_split_regex(trim(text), '\\s+') as t from u),
spans as (
  select doc_id as id, cast(i as bigint) as pos,
         md5(array_to_string(t[i:i+14], ' ')) as h
  from toks cross join lateral (
    select unnest(range(1, len(t) - 15 + 2)) as i) r
  where len(t) >= 15),
d as (select h from spans group by h having count(distinct id) >= 2),
f as (
  select s.id, s.pos,
         row_number() over (partition by s.h order by s.id, s.pos) as rn
  from spans s join d using (h)),
rem as (select id, pos from f where rn > 1),
tokrows as (
  select doc_id as id, cast(i as bigint) as i, t[i] as x
  from toks cross join lateral (
    select unnest(range(1, len(t) + 1)) as i) r),
keep as (
  select k.id, k.i, k.x from tokrows k
  where not exists (
    select 1 from rem r
    where r.id = k.id and k.i >= r.pos and k.i < r.pos + 15)),
agg as (
  select id, string_agg(x, ' ' order by i) as trimmed_text
  from keep group by id)
select u.doc_id, coalesce(a.trimmed_text, '') as trimmed_text
from u left join agg a on a.id = u.doc_id
"""


def q_vocab_counts(spark, sf_dir):
    """Corpus vocabulary building (the BPE/tokenizer-training precursor):
    global token frequencies, top 200 by (count desc, token) — the
    canonical wordcount shape. Scale: map-side partial aggregation means
    the shuffle carries (token, partial-count) pairs, never token
    instances; the top-k is TakeOrderedAndProject (per-partition heads +
    driver merge), never a global sort."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(200)
    )


O_VOCAB_COUNTS = """
select token, count(*) as n
from (select unnest(string_split_regex(trim(lower(text)), '\\s+')) as token
      from documents)
group by token
order by n desc, token
limit 200
"""


def q_ngram_lm_table(spark, sf_dir):
    """Distributed KenLM-style LM TRAINING (operators/ngram_lm.py): corpus
    -> (order, gram, logp_fp) conditional-probability table, log-probs in
    fixed-point micro-nats. One corpus scan builds all orders' grams
    (flatten + single explode), one partial-aggregated shuffle counts
    them, per-order prefix self-joins produce KenLM-format rows. Top 300
    by (order, logp_fp desc, gram) — a total order, so the limit is
    deterministic."""
    from puddin_spark.operators import ngram_lm as nlm

    d = read_table(spark, sf_dir, "documents", rebalance=True)
    return (
        nlm.train_ngram_lm(d, n=3, materialize=True)
        .orderBy("order", F.desc("logp_fp"), "gram")
        .limit(300)
    )


def q_ngram_perplexity(spark, sf_dir):
    """Distributed KenLM-style perplexity SCORING: stupid backoff via three
    hash joins against the corpus-trained LM table — no model object on
    any worker, no Python in the plan. Self-perplexity over the documents
    table (train and score on the same corpus: fully deterministic, no
    fixture dependency). Integer fixed-point log-prob sums; one exp at
    the end."""
    from puddin_spark.operators import ngram_lm as nlm

    d = read_table(spark, sf_dir, "documents", rebalance=True)
    lm = nlm.train_ngram_lm(d, n=3, materialize=True)
    return nlm.score_perplexity(d, lm, broadcast_lm=True, checkpoint_lm=True)


def _oracle_ngram_lm_cte() -> str:
    """Shared DuckDB CTE chain: tokenize -> per-order counts -> KenLM-format
    LM table, mirroring operators/ngram_lm.py bit-for-bit (same fixed-point
    scale, same rounding)."""
    return """
d as (select doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x <> '') as t
      from documents),
g as (select doc_id, t from d where len(t) > 0),
c1 as (select t[i] as gram, count(*) as cnt
       from (select t, unnest(range(1, len(t) + 1)) as i from g)
       group by gram),
c2 as (select array_to_string(t[i:i+1], ' ') as gram, count(*) as cnt
       from (select t, unnest(range(1, len(t))) as i from g where len(t) >= 2)
       group by gram),
c3 as (select array_to_string(t[i:i+2], ' ') as gram, count(*) as cnt
       from (select t, unnest(range(1, len(t) - 1)) as i from g where len(t) >= 3)
       group by gram),
tot as (select sum(cnt) as tot from c1),
l1 as (select 1 as "order", gram,
              cast(round(ln(cnt / tot) * 1000000) as bigint) as logp_fp
       from c1, tot),
l2 as (select 2 as "order", c2.gram,
              cast(round(ln(c2.cnt / p.cnt) * 1000000) as bigint) as logp_fp
       from c2 join c1 p on p.gram = string_split(c2.gram, ' ')[1]),
l3 as (select 3 as "order", c3.gram,
              cast(round(ln(c3.cnt / p.cnt) * 1000000) as bigint) as logp_fp
       from c3 join c2 p
         on p.gram = array_to_string(string_split(c3.gram, ' ')[1:2], ' ')),
lm as (select * from l1 union all select * from l2 union all select * from l3)
""".strip()


O_NGRAM_LM_TABLE = f"""
with {_oracle_ngram_lm_cte()}
select "order", gram, logp_fp from lm
order by "order", logp_fp desc, gram
limit 300
"""


def _oracle_ngram_perplexity() -> str:
    from puddin_spark.operators.ngram_lm import floor_fp, log_alpha_fp

    la, fl = log_alpha_fp(), floor_fp()
    return f"""
with {_oracle_ngram_lm_cte()},
pos as (select doc_id, t[i] as w,
               case when i >= 2 then t[i-1] end as h1,
               case when i >= 3 then t[i-2] end as h2
        from (select doc_id, t, unnest(range(1, len(t) + 1)) as i from g)),
sc as (select p.doc_id,
  case when l3.logp_fp is not null then l3.logp_fp
       when l2.logp_fp is not null
         then l2.logp_fp + (case when p.h2 is not null then {la} else 0 end)
       when l1.logp_fp is not null
         then l1.logp_fp + (case when p.h2 is not null then 2
                                 when p.h1 is not null then 1
                                 else 0 end) * {la}
       else {fl} end as lp
  from pos p
  left join (select gram, logp_fp from lm where "order" = 3) l3
    on l3.gram = p.h2 || ' ' || p.h1 || ' ' || p.w
  left join (select gram, logp_fp from lm where "order" = 2) l2
    on l2.gram = p.h1 || ' ' || p.w
  left join (select gram, logp_fp from lm where "order" = 1) l1
    on l1.gram = p.w),
ag as (select doc_id, cast(sum(lp) as bigint) as s, count(*) as c
       from sc group by doc_id),
base as (select doc_id, cast(len(t) as int) as n_tokens from d)
select b.doc_id, b.n_tokens,
       round(exp(-(a.s / 1000000.0) / a.c), 4) as ppl
from base b left join ag a using (doc_id)
"""


def q_bpe_pair_counts(spark, sf_dir):
    """BPE tokenizer training, round-1 statistics (operators/bpe.py): the
    corpus collapses to a (word, freq) table in one pass, then adjacent-
    symbol pair weights are a vocab-scale aggregation — the shape every
    merge round reuses. Pure codegen; the only corpus-scale shuffle is
    the word count."""
    from puddin_spark.operators import bpe

    d = read_table(spark, sf_dir, "documents")
    return bpe.bpe_pair_counts(d)


O_BPE_PAIR_COUNTS = """
with d as (select list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              x -> x <> '') as t
           from documents),
w as (select x as word, count(*) as freq
      from (select unnest(t) as x from d) group by x),
s as (select list_transform(range(1, length(word) + 1),
             i -> case when i = length(word) then word[i] || '▁'
                       else word[i] end) as syms,
             freq
      from w),
p as (select syms[i] as a, syms[i + 1] as b, freq
      from (select syms, freq, unnest(range(1, len(syms))) as i
            from s where len(syms) >= 2))
select a, b, cast(sum(freq) as bigint) as cnt from p group by a, b
"""


def q_ann_cosine_topk(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5")
    return similarity.brute_force_topk(emb, queries, k=3)


O_ANN_COSINE_TOPK = """
with q as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 5),
c as (select vec_id as neighbor_id, embedding as cv from embeddings),
dots as (
  select query_id, neighbor_id,
         round(
           list_sum(list_transform(range(1, len(qv)+1),
             i -> cast(qv[i] as double) * cast(cv[i] as double)))
           / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
                i -> cast(qv[i] as double) * cast(qv[i] as double))))
              * sqrt(list_sum(list_transform(range(1, len(cv)+1),
                i -> cast(cv[i] as double) * cast(cv[i] as double))))), 6) as cos_sim
  from c cross join q
  where neighbor_id <> query_id),
r as (select *, row_number() over (partition by query_id
                                   order by cos_sim desc, neighbor_id asc) as rank
      from dots)
select query_id, neighbor_id, cast(rank as int) as rank, cos_sim
from r where rank <= 3
"""


def q_srp_buckets(spark, sf_dir):
    return similarity.srp_buckets(read_table(spark, sf_dir, "embeddings"))


def _oracle_srp_buckets() -> str:
    bits = []
    for p in range(8):
        w = (
            f"(cast((cast(1103515245 as bigint) * (cast(i - 1 as bigint) + 7919 * {p})"
            f" + 12345) % 1000 as double) / 999.0 - 0.5)"
        )
        dot = (
            f"list_sum(list_transform(range(1, len(embedding)+1),"
            f" i -> cast(embedding[i] as double) * {w}))"
        )
        bits.append(f"(case when {dot} > 0 then {1 << p} else 0 end)")
    return (
        f"select vec_id as id, cast({' + '.join(bits)} as int) as bucket from embeddings"
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — the fifth dedup family
    (exact sha / minhash-LSH / simhash / ngram-jaccard / embedding-cosine).
    The synthetic embeddings are uniform-random (no organic near-dups), so
    the query injects deterministic mutants (vec_id+1000000, dim d scaled by
    1 + 0.001*((d % 7) - 3)) that both engines replay bit-for-bit; candidate
    pairs come from one 8-plane SRP band (similarity.srp_candidate_pairs —
    a bucket equi-join, never all-pairs) and are verified by exact cosine
    >= 0.99. Scale shape: the bucket key is the shuffle key; at 10^12 rows
    raise num_planes (2^planes buckets) so per-bucket candidate sets stay
    bounded."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    mutants = emb.filter("vec_id % 10 = 0").select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double)"
            " * (1.0 + 0.001 * cast((i % 7) - 3 as double)))"
        ).alias("embedding"),
    )
    return similarity.srp_candidate_pairs(base.unionAll(mutants), min_cos=0.99)


def _oracle_embedding_near_dup() -> str:
    bits = []
    for p in range(8):
        w = (
            f"(cast((cast(1103515245 as bigint) * (cast(i - 1 as bigint) + 7919 * {p})"
            f" + 12345) % 1000 as double) / 999.0 - 0.5)"
        )
        dot = f"list_sum(list_transform(range(1, len(v)+1), i -> v[i] * {w}))"
        bits.append(f"(case when {dot} > 0 then {1 << p} else 0 end)")
    cos = (
        "round(list_sum(list_transform(range(1, len(a.v)+1),"
        " i -> a.v[i] * c.v[i]))"
        " / (sqrt(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * a.v[i])))"
        " * sqrt(list_sum(list_transform(range(1, len(c.v)+1), i -> c.v[i] * c.v[i])))), 6)"
    )
    return f"""
with u as (
  select vec_id as id,
         list_transform(range(1, len(embedding)+1),
                        i -> cast(embedding[i] as double)) as v
  from embeddings
  union all
  select vec_id + 1000000 as id,
         list_transform(range(1, len(embedding)+1),
           i -> cast(embedding[i] as double)
                * (1.0 + 0.001 * cast(((i - 1) % 7) - 3 as double))) as v
  from embeddings where vec_id % 10 = 0
),
b as (select id, v, cast({' + '.join(bits)} as int) as bucket from u)
select * from (
  select a.id as id_a, c.id as id_b, a.bucket as bucket, {cos} as cos_sim
  from b a join b c using (bucket)
  where a.id < c.id)
where cos_sim >= 0.99
"""


def q_incremental_srp_pairs(spark, sf_dir):
    """Incremental embedding near-dedup: the mutants (vec_id+1000000, the
    deterministic near-dups of q_embedding_near_dup) arrive as a NEW batch
    against the base embeddings as the COMMITTED corpus. Every returned pair
    touches a new vector; committed-vs-committed work never happens
    (similarity.incremental_srp_pairs — the embedding-space twin of the
    minhash ingest path)."""
    emb = read_table(spark, sf_dir, "embeddings")
    committed = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    new_batch = emb.filter("vec_id % 10 = 0").select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double)"
            " * (1.0 + 0.001 * cast((i % 7) - 3 as double)))"
        ).alias("embedding"),
    )
    return similarity.incremental_srp_pairs(
        similarity.srp_index(new_batch),
        similarity.srp_index(committed),
        min_cos=0.99,
    )


def _oracle_incremental_srp() -> str:
    bits = []
    for p in range(8):
        w = (
            f"(cast((cast(1103515245 as bigint) * (cast(i - 1 as bigint) + 7919 * {p})"
            f" + 12345) % 1000 as double) / 999.0 - 0.5)"
        )
        dot = f"list_sum(list_transform(range(1, len(v)+1), i -> v[i] * {w}))"
        bits.append(f"(case when {dot} > 0 then {1 << p} else 0 end)")
    cos = (
        "round(list_sum(list_transform(range(1, len(a.v)+1),"
        " i -> a.v[i] * c.v[i]))"
        " / (sqrt(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * a.v[i])))"
        " * sqrt(list_sum(list_transform(range(1, len(c.v)+1), i -> c.v[i] * c.v[i])))), 6)"
    )
    return f"""
with u as (
  select vec_id as id, true as committed,
         list_transform(range(1, len(embedding)+1),
                        i -> cast(embedding[i] as double)) as v
  from embeddings
  union all
  select vec_id + 1000000 as id, false as committed,
         list_transform(range(1, len(embedding)+1),
           i -> cast(embedding[i] as double)
                * (1.0 + 0.001 * cast(((i - 1) % 7) - 3 as double))) as v
  from embeddings where vec_id % 10 = 0
),
b as (select id, committed, v, cast({' + '.join(bits)} as int) as bucket from u)
select * from (
  select a.id as id_a, c.id as id_b, a.bucket as bucket, {cos} as cos_sim,
         (a.committed or c.committed) as committed_side
  from b a join b c using (bucket)
  where a.id < c.id and not (a.committed and c.committed))
where cos_sim >= 0.99
"""


def q_quality_scores(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return textstats.quality_columns(d, "text").select(
        "doc_id", "n_tokens", "stopword_ratio", "punct_ratio",
        "mean_word_len", "quality_score",
    )


O_QUALITY_SCORES = f"""
with t as (select doc_id, string_split_regex(trim(lower(text)), '\\s+') as toks, text
           from documents),
m as (select doc_id,
        cast(len(toks) as int) as n_tokens,
        round(cast(len(list_filter(toks, w -> list_contains({_SW_LIST}, w))) as double)
              / greatest(len(toks), 1), 6) as stopword_ratio,
        round(cast(len(regexp_extract_all(text, '[^0-9A-Za-z\\s]')) as double)
              / greatest(length(text), 1), 6) as punct_ratio,
        round(cast(list_sum(list_transform(toks, w -> length(w))) as double)
              / greatest(len(toks), 1), 6) as mean_word_len
      from t)
select doc_id, n_tokens, stopword_ratio, punct_ratio, mean_word_len,
       round(least(stopword_ratio * 2, 1.0) * 0.5
             + (1 - least(punct_ratio * 4, 1.0)) * 0.3
             + case when mean_word_len >= 3 and mean_word_len <= 10
                    then 0.2 else 0.0 end, 6) as quality_score
from m
"""


def q_token_counts(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.token_count_col("text").alias("n_tokens"),
        textstats.word_token_count_col("text").alias("n_word_pieces"),
    )


# the corpus contains no wordlist hits (verified), so the gate injects a
# deterministic toxic tail for doc_id%9=4 identically in both engines
_AUG_TOX_SQL = (
    "case when doc_id % 9 = 4 then concat(text, ' damn hell crap damn')"
    " else text end"
)


def q_toxicity_scores(spark, sf_dir):
    """Per-document toxicity scoring (the SCORE side of the north rule's
    toxicity-scrub axis; masking is pii_scrub): wordlist hit count + ratio
    over whitespace tokens, pure codegen (textstats.toxicity_columns)."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_AUG_TOX_SQL).alias("text")
    )
    return textstats.toxicity_columns(d, "text").select(
        "doc_id", "tox_hits", "tox_ratio"
    )


O_TOXICITY_SCORES = f"""
with t as (select doc_id, {_AUG_TOX_SQL} as text from documents),
h as (select doc_id,
        cast(len(regexp_extract_all(lower(text), '\\b(damn|hell|crap)\\b', 0)) as int)
          as tox_hits,
        cast(len(string_split_regex(trim(lower(text)), '\\s+')) as int) as n_toks
      from t)
select doc_id, tox_hits,
       round(cast(tox_hits as double) / greatest(n_toks, 1), 6) as tox_ratio
from h
"""


O_TOKEN_COUNTS = """
select doc_id,
       cast(len(string_split_regex(trim(lower(text)), '\\s+')) as int) as n_tokens,
       cast(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) as int) as n_word_pieces
from documents
"""


def q_html_extract(spark, sf_dir):
    """HTML -> text extraction (operators/html.py): the input_hint table's
    html:binary slot. The page markup is built deterministically from
    documents.text in BOTH engines (head/style/script/comment chrome,
    entities, a block structure), then extracted with the frozen chain —
    so the gate verifies the whole pipeline cross-engine, not a fixture."""
    from puddin_spark.operators import html as html_op

    d = read_table(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit(
                '</title><style type="text/css">p { margin: 0 }</style></head>'
                "<body><!-- auto-generated -->\n<h1>Entry "
            ),
            F.col("doc_id").cast("string"),
            F.lit('</h1><div class="main"><p>'),
            F.col("text"),
            F.lit(
                "</p><br/><p>Tom &amp; Jerry wrote &quot;x &lt; y&nbsp;&gt;"
                " z&#39;s&quot;.</p></div><script>var n = 1 && 2;</script>"
                "</body></html>"
            ),
        ).alias("page_html"),
    )
    return built.select(
        "doc_id",
        html_op.extract_text_from_html("page_html").alias("text_extracted"),
    )


def _oracle_html_extract() -> str:
    from puddin_spark.operators.html import duckdb_extract_sql

    build = (
        "('<html><head><title>Doc ' || cast(doc_id as varchar) || "
        "'</title><style type=\"text/css\">p { margin: 0 }</style></head>"
        "<body><!-- auto-generated -->' || chr(10) || '<h1>Entry ' || "
        "cast(doc_id as varchar) || '</h1><div class=\"main\"><p>' || text || "
        "'</p><br/><p>Tom &amp; Jerry wrote &quot;x &lt; y&nbsp;&gt;"
        " z&#39;s&quot;.</p></div><script>var n = 1 && 2;</script>"
        "</body></html>')"
    )
    return (
        f"select doc_id, {duckdb_extract_sql(build)} as text_extracted "
        "from documents"
    )


def _messy_url_col():
    """Deterministic messy url per doc_id — mixed-case scheme/host,
    userinfo, port, a two-level public suffix, and rotating query/fragment
    noise. Built identically in the oracle (_messy_url_sql)."""
    m3 = F.col("doc_id") % 3
    return F.concat(
        F.lit("HTTPS://User@WWW.Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".CO.UK:8443/Item/"),
        F.col("doc_id").cast("string"),
        F.when(m3 == 0, F.lit("?utm_source=a&page=2&gclid=xyz#top"))
        .when(
            m3 == 1,
            F.concat(
                F.lit("?page="),
                F.col("doc_id").cast("string"),
                F.lit("&utm_campaign=z"),
            ),
        )
        .otherwise(F.lit("#sec")),
    )


_MESSY_URL_SQL = (
    "('HTTPS://User@WWW.Site' || cast(doc_id % 7 as varchar) || "
    "'.CO.UK:8443/Item/' || cast(doc_id as varchar) || "
    "case cast(doc_id % 3 as int) "
    "when 0 then '?utm_source=a&page=2&gclid=xyz#top' "
    "when 1 then '?page=' || cast(doc_id as varchar) || '&utm_campaign=z' "
    "else '#sec' end)"
)


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization + host/registered-domain extraction
    (operators/urls.py) over deterministically-messied urls."""
    from puddin_spark.operators import urls as U

    d = read_table(spark, sf_dir, "documents")
    with_raw = d.select("doc_id", _messy_url_col().alias("raw_url"))
    host = U.url_host("raw_url")
    return with_raw.select(
        "doc_id",
        U.canonical_url("raw_url").alias("canonical"),
        host.alias("host"),
        U.url_domain(host).alias("domain"),
    )


def _oracle_url_canonicalize() -> str:
    from puddin_spark.operators.urls import (
        duckdb_canonical_sql,
        duckdb_domain_sql,
        duckdb_host_sql,
    )

    host = duckdb_host_sql(_MESSY_URL_SQL)
    return (
        f"select doc_id, {duckdb_canonical_sql(_MESSY_URL_SQL)} as canonical, "
        f"{host} as host, {duckdb_domain_sql(host)} as domain from documents"
    )


_BLOCKED_DOMAINS = ("site1.co.uk", "site4.co.uk")


def q_domain_blocklist(spark, sf_dir):
    """Registered-domain blocklist gate: broadcast equi-anti-join on the
    domain (covers every subdomain without a LIKE scan)."""
    from puddin_spark.operators.urls import filter_by_domain_blocklist

    d = read_table(spark, sf_dir, "documents")
    pages = d.select("doc_id", _messy_url_col().alias("raw_url"))
    blocked = spark.createDataFrame(
        [(b,) for b in _BLOCKED_DOMAINS], schema="domain string"
    )
    out = filter_by_domain_blocklist(pages, blocked, url_col="raw_url")
    return out.select("doc_id")


def _oracle_domain_blocklist() -> str:
    from puddin_spark.operators.urls import duckdb_domain_sql, duckdb_host_sql

    dom = duckdb_domain_sql(duckdb_host_sql(_MESSY_URL_SQL))
    blocked = ", ".join(f"'{b}'" for b in _BLOCKED_DOMAINS)
    return f"select doc_id from documents where {dom} not in ({blocked})"


def q_domain_cap(spark, sf_dir):
    """Domain balancing (urls.cap_per_domain): keep at most 3 docs per
    registered domain, ranked by doc_id — the C4/RefinedWeb-style
    over-represented-host downsampling step. The messy-url corpus folds
    into 7 registered domains (site0..site6.co.uk), so the cap binds
    hard; the window is WindowGroupLimit-planned (partial top-k before
    the shuffle)."""
    from puddin_spark.operators.urls import cap_per_domain

    d = read_table(spark, sf_dir, "documents")
    pages = d.select("doc_id", _messy_url_col().alias("raw_url"))
    out = cap_per_domain(pages, 3, url_col="raw_url", order_by=["doc_id"])
    return out.select("doc_id")


def _oracle_domain_cap() -> str:
    from puddin_spark.operators.urls import duckdb_domain_sql, duckdb_host_sql

    dom = duckdb_domain_sql(duckdb_host_sql(_MESSY_URL_SQL))
    return f"""
with u as (select doc_id, {dom} as dom from documents),
r as (select doc_id, row_number() over (partition by dom order by doc_id) as rn
      from u)
select doc_id from r where rn <= 3
"""


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (splits.hash_split,
    80/10/10, salt 'v1'): a pure function of (doc_id, salt) — stable
    under repartitioning, resume, and incremental ingest, unlike
    randomSplit. The md5-prefix bucket arithmetic is replayed exactly in
    the oracle (strpos over the hex alphabet)."""
    from puddin_spark.operators.splits import hash_split

    d = read_table(spark, sf_dir, "documents")
    return hash_split(
        d, {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1"
    ).select("doc_id", "split")


_HEXVAL = "strpos('0123456789abcdef', substr(hx, {i}, 1)) - 1"
O_HASH_SPLIT = f"""
with h as (
  select doc_id,
         substr(md5(concat(cast(doc_id as varchar), 'v1')), 1, 4) as hx
  from documents),
v as (
  select doc_id,
         (({_HEXVAL.format(i=1)}) * 4096 + ({_HEXVAL.format(i=2)}) * 256
          + ({_HEXVAL.format(i=3)}) * 16 + ({_HEXVAL.format(i=4)})) % 10000
           as pct
  from h)
select doc_id,
       case when pct < 8000 then 'train'
            when pct < 9000 then 'val'
            else 'test' end as split
from v
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum downsampling (splits.stratified_sample):
    keep 50% of en, 25% of es, 10% of every other language — the
    source-mixing / rebalancing step of a training-data pipeline, decided
    by the same engine-portable md5 bucket lattice as hash_split so
    membership is reproducible across runs, engines, and repartitionings
    (unlike DataFrame.sampleBy). Pure-codegen filter: no shuffle, no UDF."""
    from puddin_spark.operators.splits import stratified_sample

    d = read_table(spark, sf_dir, "documents")
    out = stratified_sample(
        d, {"en": 0.5, "es": 0.25}, strata_col="lang", salt="s1", default=0.1
    )
    return out.select("doc_id", "lang")


_HEXVAL_S1 = "strpos('0123456789abcdef', substr(hx, {i}, 1)) - 1"
O_STRATIFIED_SAMPLE = f"""
with h as (
  select doc_id, lang,
         substr(md5(concat(cast(doc_id as varchar), 's1')), 1, 4) as hx
  from documents),
v as (
  select doc_id, lang,
         (({_HEXVAL_S1.format(i=1)}) * 4096 + ({_HEXVAL_S1.format(i=2)}) * 256
          + ({_HEXVAL_S1.format(i=3)}) * 16 + ({_HEXVAL_S1.format(i=4)})) % 10000
           as pct
  from h)
select doc_id, lang from v
where pct < case lang when 'en' then 5000 when 'es' then 2500 else 1000 end
"""


def q_temperature_mix(spark, sf_dir):
    """Temperature-flattened source mixing (splits.temperature_mix,
    alpha=0.5): downsample each language toward the smallest one with
    keep fraction (c_min/c_d)^(1-alpha) — the XLM-R/mT5 multilingual
    mixing rule — decided per row by the engine-portable md5 lattice.
    Counts come from one tiny groupBy-count collect; the oracle refits
    the identical fractions in pure Python from the same parquet and
    inlines the integer thresholds."""
    from puddin_spark.operators.splits import temperature_mix

    d = read_table(spark, sf_dir, "documents")
    out = temperature_mix(d, alpha=0.5, strata_col="lang", salt="tm1")
    return out.select("doc_id", "lang")


def _oracle_temperature_mix() -> str:
    sf = os.environ.get("PUDDIN_TEST_SF_DIR", "/root/testdata/sf0.01")
    return _oracle_temperature_mix_for(sf)


@lru_cache(maxsize=8)
def _oracle_temperature_mix_for(sf: str) -> str:
    """Independent refit: stratum counts via DuckDB, the same
    temperature_fractions + int(round(GRANULARITY*f)) quantization as the
    Spark path, thresholds inlined as a CASE — any drift in the fraction
    formula or quantization breaks the hash match. Memoized per SF dir
    (oracle_queries() is rebuilt once per replayed gate)."""
    import duckdb as _duckdb

    from puddin_spark.operators.splits import GRANULARITY, temperature_fractions

    con = _duckdb.connect()
    rows = con.execute(
        f"select lang, count(*) from read_parquet('{sf}/documents.parquet')"
        " group by 1"
    ).fetchall()
    con.close()
    fracs = temperature_fractions({lang: n for lang, n in rows}, alpha=0.5)
    arms = " ".join(
        f"when '{lang}' then {int(round(GRANULARITY * f))}"
        for lang, f in sorted(fracs.items())
    )
    hexval = "strpos('0123456789abcdef', substr(hx, {i}, 1)) - 1"
    return f"""
with h as (
  select doc_id, lang,
         substr(md5(concat(cast(doc_id as varchar), 'tm1')), 1, 4) as hx
  from documents),
v as (
  select doc_id, lang,
         (({hexval.format(i=1)}) * 4096 + ({hexval.format(i=2)}) * 256
          + ({hexval.format(i=3)}) * 16 + ({hexval.format(i=4)})) % 10000
           as pct
  from h)
select doc_id, lang from v
where pct < case lang {arms} else 0 end
"""


def q_shard_shuffle(spark, sf_dir):
    """Deterministic global shuffle + fixed-size sharding for training
    export (splits.shard_shuffle, 64 docs/shard): md5(key||salt) order
    realized by the two-phase global prefix sum — no single-task sort,
    same shard layout at any parallelism. The oracle is the naive
    single-window row_number over the same order, which the two-phase
    scheme must match bit-for-bit."""
    from puddin_spark.operators.splits import shard_shuffle

    d = read_table(spark, sf_dir, "documents").select("doc_id")
    return shard_shuffle(d, shard_size=64, salt="sh1").select(
        "doc_id", "shard_id", "shard_pos"
    )


O_SHARD_SHUFFLE = """
with r as (
  select doc_id,
         row_number() over (
           order by md5(concat(cast(doc_id as varchar), 'sh1')), doc_id
         ) - 1 as rk
  from documents)
select doc_id,
       cast(rk // 64 as bigint) as shard_id,
       cast(rk % 64 as bigint) as shard_pos
from r
"""


# Gopher-rule injections: the synthetic corpus is single-spaced lowercase
# word-soup (no '#', no '...', no newlines, never >=2 required stopwords),
# so each rule gets a deterministic violating cohort, identical SQL in
# both engines (chr(10) for newlines — engines disagree on '\n' literals).
_AUG_GOPHER_SQL = (
    "case"
    " when doc_id % 7 = 2 then trim(repeat('7 42 ', 30))"
    " when doc_id % 13 = 5 then"
    " concat('- aa', chr(10), '- bb', chr(10), '* cc dd ee')"
    " when doc_id % 11 = 3 then concat(text, ' # # # # # # # # # # # #')"
    " when doc_id % 17 = 2 then concat(text,"
    " ' w ... x ... y ... z ... w ... x ... y ... z ... w ... x ... y ... z ...')"
    " when doc_id % 19 = 4 then concat(text, chr(10), 'read more...')"
    " when doc_id % 3 < 2 then concat(text, ' the of and')"
    " else text end"
)


def q_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText document-quality battery
    (textstats.gopher_columns): the published heuristic rule set — word
    count and mean-word-length bounds, '#'/'...'-to-word ratios, bullet
    and ellipsis line fractions, alpha-word fraction, >=2 required
    stopwords — as one pure-codegen scan plus the combined verdict.
    Violating cohorts are injected via _AUG_GOPHER_SQL in both engines."""
    from puddin_spark.operators.textstats import gopher_columns

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_AUG_GOPHER_SQL).alias("text")
    )
    return gopher_columns(d, "text").select(
        "doc_id", "n_words", "mean_word_len", "hash_word_ratio",
        "ellipsis_word_ratio", "bullet_line_frac", "ellipsis_line_frac",
        "alpha_word_frac", "n_required_words", "gopher_keep",
    )


_GW_LIST = "['the','be','to','of','and','that','have','with']"
O_GOPHER_RULES = f"""
with t as (select doc_id, {_AUG_GOPHER_SQL} as text from documents),
m as (select doc_id, text,
        string_split_regex(trim(lower(text)), '\\s+') as toks,
        list_filter(string_split(text, chr(10)), l -> trim(l) <> '') as lines
      from t),
s as (select doc_id,
        cast(len(toks) as int) as n_words,
        round(cast(list_sum(list_transform(toks, w -> length(w))) as double)
              / greatest(len(toks), 1), 6) as mean_word_len,
        round(cast(len(regexp_extract_all(text, '#')) as double)
              / greatest(len(toks), 1), 6) as hash_word_ratio,
        round(cast(len(regexp_extract_all(text, '\\.\\.\\.')) as double)
              / greatest(len(toks), 1), 6) as ellipsis_word_ratio,
        round(cast(len(list_filter(lines, l -> left(trim(l), 2) = '- '
                                   or left(trim(l), 1) = '*')) as double)
              / greatest(len(lines), 1), 6) as bullet_line_frac,
        round(cast(len(list_filter(lines, l -> right(trim(l), 3) = '...'))
                   as double)
              / greatest(len(lines), 1), 6) as ellipsis_line_frac,
        round(cast(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
                   as double)
              / greatest(len(toks), 1), 6) as alpha_word_frac,
        cast(len(list_filter({_GW_LIST}, s -> list_contains(toks, s)))
             as int) as n_required_words
      from m)
select *,
       (n_words >= 50 and n_words <= 100000
        and mean_word_len >= 3 and mean_word_len <= 10
        and hash_word_ratio <= 0.1 and ellipsis_word_ratio <= 0.1
        and bullet_line_frac <= 0.9 and ellipsis_line_frac <= 0.3
        and alpha_word_frac >= 0.8 and n_required_words >= 2) as gopher_keep
from s
"""


def q_importance_select(spark, sf_dir):
    """The DSIR selection step (importance.select_top_importance): fit
    the same 256-bucket weights as importance_scores, then greedily keep
    the highest-scored documents fitting within a 50k-token budget —
    ordered exclusive prefix sum (score DESC, md5 tiebreak) via the
    two-phase range-partition scheme, no single-task sort. The oracle
    wraps the independent Python weight refit in a window over the same
    order with the same budget predicate."""
    from puddin_spark.operators.importance import (
        fit_importance_weights,
        importance_scores,
        select_top_importance,
    )

    d = read_table(spark, sf_dir, "documents")
    tgt = d.where(F.col("lang") == "en")
    weights = fit_importance_weights(tgt, d, num_buckets=256)
    scored = importance_scores(d, weights, num_buckets=256).select(
        "doc_id", "n_tokens", "score_q"
    )
    return select_top_importance(scored, budget=50_000, salt="is1")


def _oracle_importance_select() -> str:
    """The importance oracle's scored CTE + the naive single-window
    replay of the ordered exclusive prefix sum (score DESC, md5 hash,
    id) with the budget predicate. HUGEINT trap: the window sum casts
    to bigint."""
    inner = _oracle_importance().strip().rstrip()
    return f"""
with scored as ({inner}),
r as (
  select doc_id, n_tokens, score_q,
         cast(coalesce(sum(n_tokens) over (
           order by score_q desc,
                    md5(concat(cast(doc_id as varchar), 'is1')), doc_id
           rows between unbounded preceding and 1 preceding), 0) as bigint)
           as strt
  from scored)
select doc_id, cast(n_tokens as bigint) as n_tokens, score_q
from r
where strt + n_tokens <= 50000
"""


# C4-rule injections: the word-soup corpus has no newlines/punctuation, so
# cohorts are built around a three-line passing page (lines end in terminal
# punctuation, >=5 words) with one violation appended per cohort. Plain
# string (not f-string) so the literal code braces stay readable; identical
# SQL in both engines (chr(10) newlines, substr 1-based in both).
_C4_PASS_PAGE = (
    "concat('alpha beta gamma delta epsilon zeta.', chr(10),"
    " substr(text, 1, 37), ' one two three four.', chr(10),"
    " 'do you really want to know? yes we do!')"
)
_AUG_C4_SQL = (
    "case"
    " when doc_id % 11 = 2 then concat(" + _C4_PASS_PAGE + ", chr(10),"
    " 'we just love lorem ipsum here.')"
    " when doc_id % 13 = 3 then concat(" + _C4_PASS_PAGE + ", chr(10),"
    " 'function f() { return 1; }.')"
    " when doc_id % 7 = 1 then concat(" + _C4_PASS_PAGE + ", chr(10),"
    " 'too short.', chr(10),"
    " 'please enable javascript to continue now.')"
    " when doc_id % 5 < 2 then " + _C4_PASS_PAGE +
    " else text end"
)


def q_c4_rules(spark, sf_dir):
    """C4 web-page cleaning battery (textstats.c4_columns, Raffel et al.
    2020 §2.2): line retention (terminal punctuation, >=5 words, no
    javascript mention), the rebuilt page text, and the page verdict
    (no code braces, no 'lorem ipsum', >=3 sentences after cleaning).
    Violating cohorts are injected via _AUG_C4_SQL in both engines."""
    from puddin_spark.operators.textstats import c4_columns

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_AUG_C4_SQL).alias("text")
    )
    return c4_columns(d, "text").select(
        "doc_id", "c4_text", "n_lines", "n_lines_kept", "n_sentences",
        "has_brace", "has_lorem", "c4_keep",
    )


O_C4_RULES = """
with t as (select doc_id, __AUG__ as text from documents),
m as (select doc_id, text,
        list_filter(string_split(text, chr(10)), l -> trim(l) <> '') as lines
      from t),
k as (select doc_id, text, lines,
        list_filter(lines, l -> regexp_matches(trim(l), '[.!?"]$')
          and len(string_split_regex(trim(l), '\\s+')) >= 5
          and not contains(lower(l), 'javascript')) as kept
      from m),
j as (select *,
        -- array_to_string over an EMPTY list is NULL in DuckDB; Spark's
        -- array_join returns '' — coalesce to align the engines
        coalesce(array_to_string(kept, chr(10)), '') as c4_text
      from k)
select doc_id,
       c4_text,
       cast(len(lines) as int) as n_lines,
       cast(len(kept) as int) as n_lines_kept,
       cast(len(regexp_extract_all(c4_text, '[.!?]')) as int) as n_sentences,
       contains(text, '{') as has_brace,
       contains(lower(text), 'lorem ipsum') as has_lorem,
       (not contains(text, '{') and not contains(lower(text), 'lorem ipsum')
        and len(regexp_extract_all(c4_text, '[.!?]')) >= 3
        and len(kept) >= 1) as c4_keep
from j
""".replace("__AUG__", _AUG_C4_SQL)


# Mojibake injections: the ASCII word-soup corpus gets cohorts of
# double-encoded UTF-8 (Latin-1 letters, cp1252 punctuation, an already-
# clean control cohort), identical literals in both engines.
_AUG_MOJI_SQL = (
    "case"
    " when doc_id % 6 = 1 then concat(text, ' cafÃ© crÃ¨me Ã©lÃ¨ve')"
    " when doc_id % 6 = 3 then concat(text,"
    " ' â€œsmartâ€ quotes â€“ and â€” dashes â€¦ niÃ±o â‚¬42')"
    " when doc_id % 7 = 2 then concat(text, ' naÃ¯ve faÃ§ade crÃªpe Ã¼ber')"
    " when doc_id % 11 = 5 then concat(text, ' already fixed é ü “clean” – text')"
    " else text end"
)


def q_mojibake_fix(spark, sf_dir):
    """Mojibake repair (operators/encoding.py): fix UTF-8 mis-decoded as
    Latin-1/cp1252 via the ordered replace chain compiled from
    MOJIBAKE_PAIRS — one pure-codegen projection; marker count flags
    suspicious docs before repair. Spark expr and DuckDB oracle are
    generated from the SAME pair table (single source of truth), so any
    table edit keeps both engines in lockstep."""
    from puddin_spark.operators.encoding import with_mojibake_fixed

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_AUG_MOJI_SQL).alias("text")
    )
    return with_mojibake_fixed(d).select(
        "doc_id", "mojibake_markers", "fixed_text"
    )


def _oracle_mojibake_fix() -> str:
    from puddin_spark.operators.encoding import _MARKER_RE, duckdb_fix_sql

    return f"""
with t as (select doc_id, {_AUG_MOJI_SQL} as text from documents)
select doc_id,
       cast(len(regexp_extract_all(text, '{_MARKER_RE}')) as int)
         as mojibake_markers,
       {duckdb_fix_sql("text")} as fixed_text
from t
"""


def q_importance_scores(spark, sf_dir):
    """DSIR-style hashed-unigram importance scoring
    (operators.importance): fit 256-bucket log-likelihood-ratio weights
    for target = English docs vs background = whole corpus, then score
    every document by the BIGINT sum of quantized per-token weights.
    Fitting collects two <=256-row histograms (bounded, like IVF centroid
    training); scoring is explode -> broadcast weight join -> one
    groupBy(doc) shuffle carrying only integer partial sums — the
    data-selection step of a training-data pipeline at any corpus size.
    The oracle refits the same weights in pure Python (same md5 lattice,
    same quantization) and inlines them as a VALUES table."""
    from puddin_spark.operators.importance import (
        fit_importance_weights,
        importance_scores,
    )

    d = read_table(spark, sf_dir, "documents")
    tgt = d.where(F.col("lang") == "en")
    weights = fit_importance_weights(tgt, d, num_buckets=256)
    return importance_scores(d, weights, num_buckets=256).select(
        "doc_id", "n_tokens", "score_q"
    )


def _oracle_importance() -> str:
    """Independent weight refit: tokenize + hash the SF's documents in
    pure Python (hashlib md5, same hex-lattice arithmetic), call the same
    weights_from_counts on the integer histograms, inline the quantized
    weights as VALUES. DuckDB then reproduces the per-doc scores with its
    own tokenizer + the strpos bucket twin — any divergence in hashing,
    smoothing, quantization, or summation breaks the hash match.
    Memoized per SF dir: oracle_queries() is rebuilt once per replayed
    gate by tests/test_queries.py, and the corpus-wide Python refit is
    the one oracle builder that isn't a cheap string template."""
    sf = os.environ.get("PUDDIN_TEST_SF_DIR", "/root/testdata/sf0.01")
    return _oracle_importance_for(sf)


@lru_cache(maxsize=8)
def _oracle_importance_for(sf: str) -> str:
    import hashlib
    import re as _re

    import duckdb as _duckdb

    from puddin_spark.operators.importance import (
        duckdb_bucket_sql,
        weights_from_counts,
    )

    con = _duckdb.connect()
    rows = con.execute(
        f"select lang, text from read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    con.close()
    B = 256
    tgt: dict[int, int] = {}
    bg: dict[int, int] = {}
    for lang, text in rows:
        for tok in _re.split(r"\s+", text.lower()):
            if not tok:
                continue
            b = (int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 10000) % B
            bg[b] = bg.get(b, 0) + 1
            if lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
    w = weights_from_counts(tgt, bg, B, alpha=0.5)
    vals = ", ".join(f"({b}, {q})" for b, q in sorted(w.items()))
    bsql = duckdb_bucket_sql("token", B)
    return f"""
with toks as (
  select doc_id, unnest(string_split_regex(lower(text), '\\s+')) as token
  from documents),
t2 as (select doc_id, {bsql} as bucket from toks where token <> ''),
w(bucket, w) as (values {vals})
select t2.doc_id, count(*) as n_tokens, cast(sum(w.w) as bigint) as score_q
from t2 join w using (bucket)
group by t2.doc_id
"""


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style perplexity tiering (textstats.perplexity_buckets):
    rank docs by char-LM perplexity within each language, cut into
    head/middle/tail thirds via one ntile window. Deterministic tile
    membership from the (ppl, doc_id) ordering key; the ppl values
    themselves are the golden-parquet-pinned model output, so the oracle
    reruns the identical window over the frozen values."""
    from puddin_spark.models import perplexity_udf
    from puddin_spark.operators.textstats import perplexity_buckets

    d = read_table(spark, sf_dir, "documents")
    p = d.select("doc_id", "lang", perplexity_udf()(F.col("text")).alias("ppl"))
    return perplexity_buckets(p).select("doc_id", "lang", "ppl_bucket")


def _oracle_perplexity_buckets() -> str | None:
    g = _model_golden_oracle("perplexity")
    if g is None:
        return None
    return f"""
with p as (
  select g.doc_id, d.lang, g.ppl
  from ({g}) g join documents d using (doc_id)),
n as (
  select doc_id, lang,
         ntile(3) over (partition by lang order by ppl, doc_id) as b
  from p)
select doc_id, lang,
       case b when 1 then 'head' when 2 then 'middle' else 'tail' end
         as ppl_bucket
from n
"""


_O_PACK_STREAM = """
with t as (
  select doc_id,
         cast(len(string_split_regex(trim(lower(text)), '\\s+')) as bigint)
           as n_tokens,
         md5(concat(cast(doc_id as varchar), 'p1')) as hx
  from documents),
s as (
  select doc_id, n_tokens,
         cast(coalesce(sum(n_tokens) over
           (order by hx, doc_id
            rows between unbounded preceding and 1 preceding), 0) as bigint)
           as strt
  from t)
"""


def q_pack_sequences(spark, sf_dir):
    """GPT-3-style sequence packing (packing.pack_sequences): concatenate
    documents in deterministic md5-shuffled order and chunk into 512-token
    windows; each doc gets (pack_id, pack_offset) of its first token. The
    exclusive prefix sum runs as the two-phase range-partition scheme (no
    Exchange SinglePartition — SURVEY §2.7 generalized from counts to
    sums); the oracle replays it as a plain single-task window, which must
    agree bit-for-bit because only BIGINTs are summed."""
    from puddin_spark.operators.packing import pack_sequences
    from puddin_spark.operators.textstats import token_count_col

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_col("text").alias("n_tokens")
    )
    out = pack_sequences(d, 512, "n_tokens", salt="p1", num_partitions=8)
    return out.select("doc_id", "pack_id", "pack_offset")


O_PACK_SEQUENCES = f"""{_O_PACK_STREAM}
select doc_id, strt // 512 as pack_id, strt % 512 as pack_offset
from s
"""


def q_token_budget(spark, sf_dir):
    """Exact-token-budget corpus cut (packing.token_budget_sample): keep
    documents fitting entirely within the first 5000 tokens of the
    md5-shuffled stream — the scaling-law-ladder selection. Prefix
    property: a larger budget strictly adds documents; membership is
    independent of cluster size (evidenced by the two-phase prefix sum
    matching the oracle's single-task window)."""
    from puddin_spark.operators.packing import token_budget_sample
    from puddin_spark.operators.textstats import token_count_col

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_col("text").alias("n_tokens")
    )
    out = token_budget_sample(d, 5000, "n_tokens", salt="p1", num_partitions=8)
    return out.select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))


O_TOKEN_BUDGET = f"""{_O_PACK_STREAM}
select doc_id, n_tokens from s where strt + n_tokens <= 5000
"""


def q_quality_gate(spark, sf_dir):
    """Model-tier quality filter (textstats.apply_quality_gate) composed
    after a keep-everything battery: documents scoring under the threshold
    flip to excl_type='low_quality'. Threshold 0.56 ~ the corpus median so
    both outcomes are exercised."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").alias("clean_text"),
        F.lit(True).alias("keep"),
        F.lit(None).cast("string").alias("excl_type"),
    )
    out = textstats.apply_quality_gate(d, min_score=0.56)
    return out.select("doc_id", "keep", "excl_type")


def _oracle_quality_gate() -> str:
    return f"""
select doc_id, quality_score >= 0.56 as keep,
       case when quality_score >= 0.56 then null else 'low_quality' end as excl_type
from ({O_QUALITY_SCORES}) q
"""


def q_dedup_canonical_url(spark, sf_dir):
    """Fuzzy URL dedup by composition: dedup_first keyed on canonical_url
    — even/odd doc_id pairs share an item page behind case + tracking-param
    + fragment noise; keep-first (min warc_ts) retains the even twin."""
    from puddin_spark.operators.urls import canonical_url

    d = read_table(spark, sf_dir, "documents")
    odd = (F.col("doc_id") % 2) == 1
    url = F.concat(
        F.when(odd, F.lit("HTTPS://WWW.Shop.CO.UK/item/")).otherwise(
            F.lit("https://www.shop.co.uk/item/")
        ),
        (F.col("doc_id") - (F.col("doc_id") % 2)).cast("string"),
        F.when(odd, F.lit("?utm_source=feed#frag")).otherwise(F.lit("")),
    )
    pages = d.select(
        "doc_id",
        url.alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias(
            "warc_ts"
        ),
    )
    out = dedup_first(pages, key=canonical_url("url"))
    return out.select(
        "doc_id", canonical_url("url").alias("canonical")
    )


def _oracle_dedup_canonical_url() -> str:
    from puddin_spark.operators.urls import duckdb_canonical_sql

    return f"""
with pages as (
  select doc_id,
         case when doc_id % 2 = 1 then 'HTTPS://WWW.Shop.CO.UK/item/'
              else 'https://www.shop.co.uk/item/' end
         || cast(doc_id - (doc_id % 2) as varchar)
         || case when doc_id % 2 = 1 then '?utm_source=feed#frag' else '' end
           as url,
         to_timestamp(1704067200 + doc_id) as warc_ts
  from documents),
canon as (select doc_id, url, warc_ts,
                 {duckdb_canonical_sql('url')} as canonical from pages),
r as (select doc_id, canonical,
             row_number() over (partition by canonical
                                order by warc_ts, url) as rn
      from canon)
select doc_id, canonical from r where rn = 1
"""


def q_fingerprints(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", textstats.fingerprint_col("text").alias("fingerprint")
    )


O_FINGERPRINTS = """
select doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) as fingerprint
from documents
"""


def q_langid_heuristic(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(textstats.langid_en_score_col("text"), 6).alias("en_score"),
        (textstats.langid_en_score_col("text") > 0.05).alias("pred_en"),
    )


O_LANGID_HEURISTIC = f"""
with t as (select doc_id, string_split_regex(trim(lower(text)), '\\s+') as toks
           from documents)
select doc_id,
       round(cast(len(list_filter(toks, w -> list_contains({_SW_LIST}, w))) as double)
             / greatest(len(toks), 1), 6) as en_score,
       (cast(len(list_filter(toks, w -> list_contains({_SW_LIST}, w))) as double)
        / greatest(len(toks), 1)) > 0.05 as pred_en
from t
"""


def q_multimodal_meta(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )
    return extract_media_meta(d, "doc_id", "media")


O_MULTIMODAL_META = """
select doc_id,
       cast(octet_length(encode(text)) as bigint) as n_bytes,
       sha256(text) as sha256,
       cast(octet_length(encode(text)) % 640 as int) as fake_width,
       cast(octet_length(encode(text)) % 480 as int) as fake_height
from documents
"""


def q_media_frames(spark, sf_dir):
    """Frame-sampling plumbing gate: documents bytes as fake video, every
    2nd 256-byte frame kept (sample_frames is the row-multiplying
    mapInPandas shape). Frames compared by sha256 — the corpus is pure
    ASCII, so the oracle slices the VARCHAR text directly and hashes its
    utf-8 bytes (identical to Spark hashing the binary slice). Both sides
    share an EXPLICIT 4096-frame cap (1 MiB of 256-byte frames) — the
    oracle's frame generator needs a constant bound, and a one-sided bound
    would silently desync the gate on long documents."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )
    fr = sample_frames(d, every_n=2, frame_bytes=256)
    return fr.filter(F.col("frame_ix") < 4096).select(
        "doc_id", "frame_ix", "ts_ms", F.sha2("frame", 256).alias("frame_sha")
    )


O_MEDIA_FRAMES = """
with f as (
  select doc_id, cast(ix as int) as frame_ix, cast(ix * 40 as int) as ts_ms,
         substring(text, cast(ix * 256 + 1 as bigint), 256) as chunk
  from documents, range(0, 4096) t(ix)
  where ix * 256 < length(text))
select doc_id, frame_ix, ts_ms, sha256(chunk) as frame_sha
from f where frame_ix % 2 = 0
"""


def q_media_near_dup(spark, sf_dir):
    """END-TO-END multimodal near-dedup composition (VERDICT r5 item 4):
    media binary -> embed_media (the vision-model seam's deterministic
    sha-chain stub) -> banded SRP candidate pairs -> cluster resolution —
    the same dedup surface the text pipeline gets, over an opaque binary
    column. Media twins are injected as doc_id+1000000 with IDENTICAL
    bytes (doc_id % 10 = 0): the stub embeds equal bytes to equal vectors
    (cosine exactly 1.0, same SRP buckets in every band), while distinct
    bytes hash to pseudo-random vectors far below the 0.99 bar — so the
    verified pair graph is exactly the equal-media graph, and the oracle
    derives clusters from first principles (equal text <=> equal bytes <=>
    cosine 1.0) with min-id roots over each equality group. Returns
    (id, root) for every clustered vector, resolve_duplicate_clusters'
    contract."""
    from puddin_spark.operators.dedup import resolve_duplicate_clusters
    from puddin_spark.operators.multimodal import embed_media

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )
    twins = read_table(spark, sf_dir, "documents").filter("doc_id % 10 = 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.encode("text", "utf-8").alias("media"),
    )
    emb = embed_media(d.unionAll(twins), "doc_id", "media")
    pairs = similarity.srp_candidate_pairs(
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
        ),
        min_cos=0.99,
    )
    return resolve_duplicate_clusters(pairs.select("id_a", "id_b"))


# equal text <=> equal media bytes <=> identical stub embedding (cos 1.0):
# clusters are the text-equality groups of size >= 2, root = min doc_id —
# no recursion needed (equality is transitive, unlike generic near-dup
# graphs; neardup_resolution's recursive-CTE oracle covers that case)
O_MEDIA_NEAR_DUP = """
with m as (
  select doc_id, text from documents
  union all
  select doc_id + 1000000 as doc_id, text from documents where doc_id % 10 = 0
),
g as (
  select doc_id as id,
         min(doc_id) over (partition by text) as root,
         count(*) over (partition by text) as n
  from m)
select id, root from g where n >= 2
"""


def q_sentence_segment(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return (
        d.withColumn("sents", segment_udf("text"))
        .select("doc_id", F.posexplode("sents").alias("pos", "sent_text"))
        .select("doc_id", (F.col("pos") + 1).cast("int").alias("sent_num"), "sent_text")
    )


# documents.text is single-line, single-spaced, no terminal punctuation
# (verified) -> segmentation yields exactly one sentence = trim(text)
O_SENTENCE_SEGMENT = """
select doc_id, 1 as sent_num, trim(text) as sent_text from documents
"""


def q_pii_scrub(spark, sf_dir):
    """PII/toxicity masking over documents with injected PII spans."""
    d = read_table(spark, sf_dir, "documents").withColumn(
        "t", F.expr(f"concat(text, {PII_SUFFIX_CASE})")
    )
    from puddin_spark.udfs import pii_scrub_udf

    return d.select("doc_id", pii_scrub_udf(F.col("t")).alias("scrubbed"))


PII_SUFFIX_CASE = """
case cast(doc_id % 6 as int)
  when 0 then ' contact me at john.doe+spam@mail-example.com thanks'
  when 1 then ' ssn is 123-45-6789 ok'
  when 2 then ' card 4111-1111-1111-1111 exp soon'
  when 3 then ' call 555-867-5309 now'
  when 4 then ' host at 192.168.10.250 port'
  else ' what the hell happened'
end
""".strip()

O_PII_SCRUB = f"""
with aug as (select doc_id, text || {PII_SUFFIX_CASE} as t from documents)
select doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    regexp_replace(t,
      '[\\w.+-]+@[\\w-]+\\.[\\w.-]+', '[EMAIL]', 'g'),
      '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '[SSN]', 'g'),
      '\\b\\d{{4}}[ -]\\d{{4}}[ -]\\d{{4}}[ -]\\d{{4}}\\b', '[CC]', 'g'),
      '\\b(?:\\+?1[ .-]?)?\\(?\\d{{3}}\\)?[ .-]?\\d{{3}}[ .-]?\\d{{4}}\\b', '[PHONE]', 'g'),
      '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '[IP]', 'g'),
      '(?i)\\b(damn|hell|crap)\\b', '[TOX]', 'g') as scrubbed
from aug
"""


_FIXTURE_DIR = Path(__file__).resolve().parent.parent / "tests" / "fixtures"


def _model_golden_oracle(kind: str) -> str | None:
    """Hard oracle for a model gate: DuckDB reads a committed golden parquet
    frozen by tools/freeze_model_golden.py — a plain-Python, Spark-free
    replay of the same deterministic model arithmetic over the same SF's
    documents table. The models are pure functions, so the gate compares the
    Spark iterator-UDF execution path (Arrow batches, executor singletons)
    against an independent driver-side loop; any plumbing divergence breaks
    the rows/schema/hash match. Returns None (rows-only fallback) only if no
    golden exists for the SF under test."""
    sf = Path(os.environ.get("PUDDIN_TEST_SF_DIR", "/root/testdata/sf0.01")).name
    p = _FIXTURE_DIR / f"golden_model_{kind}_{sf}.parquet"
    return f"select * from read_parquet('{p}')" if p.exists() else None


def q_model_langid(spark, sf_dir):
    """Trigram-profile language ID (iterator UDF, per-executor singleton).
    Oracle: golden parquet via _model_golden_oracle('langid')."""
    from puddin_spark.models import langid_udf

    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", langid_udf(F.col("text")).alias("m")).select(
        "doc_id", "lang", F.col("m.pred_lang").alias("pred_lang"),
        F.col("m.lang_score").alias("lang_score"),
    )


def q_model_perplexity(spark, sf_dir):
    """KenLM-style char-LM perplexity (iterator UDF, singleton). Oracle:
    golden parquet via _model_golden_oracle('perplexity')."""
    from puddin_spark.models import perplexity_udf

    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", perplexity_udf()(F.col("text")).alias("ppl"))


def q_salted_rule_counts(spark, sf_dir):
    """rule_hit_counts via explicit two-phase salted aggregation — identical
    result, skew-proof shuffle shape (north_rule salting)."""
    from puddin_spark.operators.aggs import salted_counts

    labeled = _aug_docs(spark, sf_dir).select(
        "doc_id", F.coalesce(classify_udf(F.col("t")), F.lit("keep")).alias("label")
    )
    return salted_counts(labeled, ["label"], "doc_id", buckets=16)


# identical result to the unsalted count — salting changes only the shuffle
O_SALTED_RULE_COUNTS = O_RULE_HIT_COUNTS


def q_sentence_stats_rollup(spark, sf_dir):
    """Sentence-grain hierarchical stats (statify subsystem, A5 rollup)."""
    from puddin_spark.stats import hierarchical_stats, sentence_metrics

    d = read_table(spark, sf_dir, "documents")
    sents = (
        d.withColumn("sents", segment_udf("text"))
        .select("lang", F.explode("sents").alias("sent_text"))
    )
    return hierarchical_stats(sentence_metrics(sents), ["lang"])


# on this corpus each doc segments to exactly one sentence = trim(text)
O_SENTENCE_STATS_ROLLUP = """
with m as (
  select lang,
         cast(len(string_split_regex(trim(text), '\\s+')) as int) as n_words,
         round(cast(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                                            w -> length(w))) as double)
               / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) as mean_word_len
  from documents)
select coalesce(cast(lang as varchar), 'ALL') as lang,
       count(*) as n_sents,
       cast(sum(n_words) as bigint) as total_words,
       round(avg(n_words), 4) as avg_words_per_sent,
       cast(max(n_words) as int) as max_words,
       round(avg(mean_word_len), 4) as avg_word_len
from m group by rollup(lang)
"""


def _duck_cos(a: str, b: str) -> str:
    return (
        f"(list_sum(list_transform(range(1, len({a})+1),"
        f" i -> cast({a}[i] as double) * cast({b}[i] as double)))"
        f" / (sqrt(list_sum(list_transform(range(1, len({a})+1),"
        f" i -> cast({a}[i] as double) * cast({a}[i] as double))))"
        f" * sqrt(list_sum(list_transform(range(1, len({b})+1),"
        f" i -> cast({b}[i] as double) * cast({b}[i] as double))))))"
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: k-means-trained coarse cells + nprobe search (the
    scale path; exact baseline is ann_cosine_topk). The quantizer is
    similarity.train_centroids — deterministic md5-seeded init + 2 Lloyd
    iterations with fixed-point means, replayed exactly by the oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter("vec_id < 5"), k=3, n_centroids=8, nprobe=2
    )


def _oracle_kmeans_cents(n_cent: int = 8, iters: int = 2) -> str:
    """CTE chain c0..c{iters} replicating similarity.train_centroids:
    md5-ordered init, cosine assignment (round 6, ties to lower cent_id),
    fixed-point integer-sum means (order-independent, engine-exact)."""
    ctes = [f"""
c0 as (
  select cent_id, cent_v from (
    select cast(row_number() over (order by md5(cast(vec_id as varchar))) as int) as cent_id,
           list_transform(embedding, x -> cast(x as double)) as cent_v
    from embeddings) where cent_id <= {n_cent})"""]
    for i in range(iters):
        prev, cur = f"c{i}", f"c{i + 1}"
        ctes.append(f"""
asg{i} as (
  select nid, nv, cent_id as cell from (
    select e.vec_id as nid, e.embedding as nv, {prev}.cent_id,
           row_number() over (partition by e.vec_id
             order by round({_duck_cos('e.embedding', f'{prev}.cent_v')}, 6) desc,
                      {prev}.cent_id asc) as rnk
    from embeddings e cross join {prev}) where rnk = 1),
m{i} as (
  select cell, u.dim,
         round(cast(sum(cast(round(cast(u.val as double) * 1048576) as bigint)) as double)
               / count(*) / 1048576.0, 6) as mv
  from asg{i}, (select unnest(nv) as val, generate_subscripts(nv, 1) as dim) u
  group by cell, u.dim),
{cur} as (
  select {prev}.cent_id, coalesce(l.v, {prev}.cent_v) as cent_v
  from {prev} left join (select cell as cent_id, list(mv order by dim) as v
                         from m{i} group by cell) l using (cent_id))""")
    return ",".join(ctes)


O_ANN_IVF_TOPK = f"""
with {_oracle_kmeans_cents(8, 2)},
cents as (select cent_id, cent_v from c2),
c as (select vec_id as nid, embedding as nv from embeddings),
ac as (select nid, nv, cent_id, round({_duck_cos('nv', 'cent_v')}, 6) as cos_c
       from c cross join cents),
ar as (select *, row_number() over (partition by nid
                                    order by cos_c desc, cent_id asc) as rnk from ac),
assigned as (select nid, nv, cent_id as cell from ar where rnk = 1),
q as (select vec_id as query_id, embedding as qv from embeddings where vec_id < 5),
pc as (select query_id, qv, cent_id, round({_duck_cos('qv', 'cent_v')}, 6) as cos_q
       from q cross join cents),
pr as (select *, row_number() over (partition by query_id
                                    order by cos_q desc, cent_id asc) as rnk from pc),
probes as (select query_id, qv, cell from (select query_id, qv, cent_id as cell, rnk from pr) where rnk <= 2),
cand as (select p.query_id, a.nid, round({_duck_cos('p.qv', 'a.nv')}, 6) as cos_sim
         from probes p join assigned a using (cell)
         where a.nid <> p.query_id),
r as (select *, row_number() over (partition by query_id
                                   order by cos_sim desc, nid asc) as rnk2 from cand)
select query_id, nid as neighbor_id, cast(rnk2 as int) as rank, cos_sim
from r where rnk2 <= 3
"""


# lines injected per doc: a shared boilerplate footer for doc_id%3==0|1 and a
# per-doc unique line, so the line-dedup operator has real work on this corpus
LINED_DOCS_CASE = """
concat(text, '\n',
  case cast(doc_id % 3 as int)
    when 0 then 'subscribe to our newsletter today'
    when 1 then 'subscribe to our newsletter today'
    else 'rare closing remark here'
  end,
  '\nunique line ', cast(doc_id as string))
""".strip()


def q_boilerplate_lines(spark, sf_dir):
    """Cross-document duplicate-line removal (north_star internal-noise
    reduction); keeps docs, drops recurring lines, preserves line order."""
    from puddin_spark.operators.boilerplate import remove_boilerplate_lines

    d = read_table(spark, sf_dir, "documents").withColumn(
        "t", F.expr(LINED_DOCS_CASE)
    )
    return remove_boilerplate_lines(d, "doc_id", "t", min_docs=3).select(
        F.col("id").alias("doc_id"), F.md5("clean_text").alias("clean_md5"),
        F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
    )


O_BOILERPLATE_LINES = f"""
with aug as (select doc_id, {LINED_DOCS_CASE} as t from documents),
lines as (
  select doc_id as id, u.pos, u.line,
         md5(regexp_replace(trim(lower(u.line)), '\\s+', ' ', 'g')) as line_key
  from aug,
       (select unnest(string_split(t, chr(10))) as line,
               generate_subscripts(string_split(t, chr(10)), 1) as pos) u
  where trim(u.line) <> ''),
boiler as (
  select line_key from lines group by line_key having count(distinct id) >= 3),
kept as (
  select * from lines where line_key not in (select line_key from boiler)),
agged as (
  select id, string_agg(line, chr(10) order by pos) as txt, count(*) as n
  from kept group by id)
select d.doc_id, md5(coalesce(a.txt, '')) as clean_md5,
       coalesce(a.n, 0) as n_lines_kept
from (select distinct doc_id from aug) d left join agged a on a.id = d.doc_id
"""


def q_repetition_scores(spark, sf_dir):
    """Within-document repetition ratio (word-bigram; MassiveText-style)."""
    from puddin_spark.operators.boilerplate import repetition_ratio_col

    d = read_table(spark, sf_dir, "documents").withColumn(
        "t",
        F.expr(
            "case when doc_id % 4 = 0 then concat(text, ' ', text) else text end"
        ),
    )
    return d.select(
        "doc_id",
        repetition_ratio_col("t", 2).alias("rep_ratio"),
        (repetition_ratio_col("t", 2) > 0.2).alias("repetitive"),
    )


O_REPETITION_SCORES = """
with aug as (
  select doc_id,
         case when doc_id % 4 = 0 then text || ' ' || text else text end as t
  from documents),
g as (
  select doc_id,
         list_transform(range(1, greatest(len(string_split_regex(trim(t), '\\s+')) - 1, 1) + 1),
                        i -> array_to_string(string_split_regex(trim(t), '\\s+')[i:i+1], ' ')) as grams
  from aug),
m as (select doc_id,
             round(1 - cast(len(list_distinct(grams)) as double) / greatest(len(grams), 1), 6) as rep_ratio
      from g)
select doc_id, rep_ratio, rep_ratio > 0.2 as repetitive from m
"""



# the documents corpus is closed-class-free word soup (TESTDATA.md), so the
# copula and coordination tiers would never fire on it; this deterministic
# augmentation (same pattern as AUG_SUFFIX_CASE elsewhere) injects both —
# a pure copular sentence for doc_id%25=7 and a trailing "and trees"
# coordination for doc_id%10=3 — identically in Spark and the oracle
_AUG_ANNO_SQL = (
    "case when doc_id % 25 = 7 then 'it is blue'"
    " when doc_id % 10 = 3 then concat(trim(text), ' and trees')"
    " else trim(text) end"
)


def q_conllu_annotated(spark, sf_dir):
    """The UD-annotation stage (U4/U6 closure): pluggable annotator fills
    LEMMA/UPOS/HEAD/DEPREL relationally (annotate.py; the Stanza seam,
    incl. the copula + coordination head tiers via _AUG_ANNO_SQL). The
    gate tokenizes by whitespace so the DuckDB oracle replays the identical
    rule cascade token-for-token."""
    from puddin_spark.annotate import annotate_sentences

    d = read_table(spark, sf_dir, "documents")
    sents = d.select(
        "doc_id", F.split(F.expr(_AUG_ANNO_SQL), r"\s+").alias("tokens")
    )
    return annotate_sentences(sents, "tokens", keys=["doc_id"])


# the same closed-class lexicons + suffix cascade as annotate.RuleAnnotator
# (FROZEN together — change both sides in one commit)
def _oracle_annotate_body() -> str:
    from puddin_spark.annotate import (
        ADP_WORDS, AUX_WORDS, CCONJ_WORDS, DET_WORDS, PRON_WORDS,
    )

    def inlist(words):
        return "(" + ", ".join(f"'{w}'" for w in words) + ")"

    return f"""
toks as (
  select doc_id, u.ix as tok_ix, u.form
  from documents,
       (select unnest(string_split_regex({_AUG_ANNO_SQL}, '\\s+')) as form,
               generate_subscripts(string_split_regex({_AUG_ANNO_SQL}, '\\s+'), 1) as ix) u),
tagged as (
  select doc_id, tok_ix, form,
    case
      when regexp_matches(form, '^[^A-Za-z0-9]+$') then 'PUNCT'
      when regexp_matches(form, '^[0-9]+([.,][0-9]+)*$') then 'NUM'
      when lower(form) in {inlist(DET_WORDS)} then 'DET'
      when lower(form) in {inlist(PRON_WORDS)} then 'PRON'
      when lower(form) in {inlist(ADP_WORDS)} then 'ADP'
      when lower(form) in {inlist(CCONJ_WORDS)} then 'CCONJ'
      when lower(form) in {inlist(AUX_WORDS)} then 'AUX'
      when length(form) > 3 and lower(form) like '%ly' then 'ADV'
      when length(form) > 4 and (lower(form) like '%ing' or lower(form) like '%ed') then 'VERB'
      when length(form) > 4 and (lower(form) like '%ous' or lower(form) like '%ful'
           or lower(form) like '%ive' or lower(form) like '%able'
           or lower(form) like '%al') then 'ADJ'
      else 'NOUN'
    end as upos
  from toks),
lemmed as (
  select *, case
    when upos = 'VERB' and lower(form) like '%ing' then substr(lower(form), 1, length(form) - 3)
    when upos = 'VERB' and lower(form) like '%ed' then substr(lower(form), 1, length(form) - 2)
    when upos = 'NOUN' and length(form) > 3 and lower(form) like '%s'
         and lower(form) not like '%ss' then substr(lower(form), 1, length(form) - 1)
    else lower(form) end as lemma
  from tagged),
pre as (
  select *,
    min(case when upos = 'VERB' then tok_ix end) over (partition by doc_id) as verb_ix,
    min(case when upos = 'AUX' then tok_ix end) over (partition by doc_id) as aux_ix,
    min(case when upos <> 'PUNCT' then tok_ix end) over (partition by doc_id) as nonpunct_ix,
    min(case when upos = 'NOUN' then tok_ix end) over (
      partition by doc_id order by tok_ix
      rows between 1 following and unbounded following) as next_noun,
    min(case when upos in ('NOUN', 'ADJ', 'PRON', 'NUM', 'VERB') then tok_ix end) over (
      partition by doc_id order by tok_ix
      rows between 1 following and unbounded following) as next_content,
    max(case when upos = 'NOUN' then tok_ix end) over (
      partition by doc_id order by tok_ix
      rows between unbounded preceding and 1 preceding) as prev_noun,
    lag(upos) over (partition by doc_id order by tok_ix) as prev_upos
  from lemmed),
rooted as (
  select *,
    cast(coalesce(
      verb_ix,
      case when aux_ix is not null then coalesce(pred_ix_raw, aux_ix) end,
      nonpunct_ix, 1) as int) as root_ix,
    -- the copular AUX: no VERB, an AUX, and a content predicate after it
    cast(case when verb_ix is null and pred_ix_raw is not null
              then aux_ix end as int) as cop_ix
  from (
    select *,
      min(case when upos in ('NOUN', 'ADJ', 'PRON', 'NUM')
               and tok_ix > aux_ix then tok_ix end) over (
        partition by doc_id) as pred_ix_raw
    from pre)),
anno as (
  select doc_id, cast(tok_ix as int) as tok_ix, form, lemma, upos,
    cast(case when tok_ix = root_ix then 0
              when tok_ix = cop_ix then root_ix
              when upos = 'CCONJ' then coalesce(next_content, root_ix)
              when upos = 'NOUN' and prev_upos = 'CCONJ'
                   and prev_noun is not null then prev_noun
              when upos in ('DET', 'ADJ', 'NUM', 'ADP')
                   and next_noun is not null then next_noun
              else root_ix end as int) as head,
    case when tok_ix = root_ix then 'root'
         when tok_ix = cop_ix then 'cop'
         when upos = 'NOUN' and prev_upos = 'CCONJ'
              and prev_noun is not null then 'conj'
         else case upos when 'PUNCT' then 'punct' when 'DET' then 'det'
                        when 'ADP' then 'case' when 'CCONJ' then 'cc'
                        when 'AUX' then 'aux' when 'ADV' then 'advmod'
                        when 'ADJ' then 'amod' when 'PRON' then 'nsubj'
                        when 'NUM' then 'nummod' when 'NOUN' then 'obl'
                        else 'conj' end
    end as deprel
  from rooted)
"""


def _oracle_conllu_annotated() -> str:
    return f"""
with {_oracle_annotate_body()}
select doc_id, tok_ix, form, lemma, upos, head, deprel from anno
"""


def q_lemma_stats_rollup(spark, sf_dir):
    """Lemma/word-level statistics with the reference's deprel != 'punct'
    exclusion (statify_puddin.py:267-273,314-321) — unblocked by the
    annotation stage; hierarchical via ROLLUP (A5)."""
    from puddin_spark.annotate import annotate_sentences

    d = read_table(spark, sf_dir, "documents")
    sents = d.select(
        "lang", F.split(F.expr(_AUG_ANNO_SQL), r"\s+").alias("tokens")
    )
    toks = annotate_sentences(sents, "tokens", keys=["lang"]).filter(
        "deprel != 'punct'"
    )
    return (
        toks.rollup("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("lemma").alias("n_lemmas"),
            F.round(F.avg(F.length("form")), 4).alias("avg_word_len"),
            F.round(F.avg(F.length("lemma")), 4).alias("avg_lemma_len"),
            F.sum(F.when(F.col("upos") == "VERB", 1).otherwise(0))
            .cast("bigint")
            .alias("n_verbs"),
        )
        .select(
            F.coalesce(F.col("lang").cast("string"), F.lit("ALL")).alias("lang"),
            "n_tokens", "n_lemmas", "avg_word_len", "avg_lemma_len", "n_verbs",
        )
    )


def _oracle_lemma_stats() -> str:
    body = _oracle_annotate_body().replace(
        "select doc_id, u.ix as tok_ix, u.form",
        "select doc_id, lang, u.ix as tok_ix, u.form",
    ).replace(
        "select doc_id, tok_ix, form,\n", "select doc_id, lang, tok_ix, form,\n"
    ).replace(
        "select doc_id, cast(tok_ix as int) as tok_ix, form, lemma, upos,",
        "select doc_id, lang, cast(tok_ix as int) as tok_ix, form, lemma, upos,",
    )
    return f"""
with {body}
select coalesce(cast(lang as varchar), 'ALL') as lang,
       count(*) as n_tokens,
       count(distinct lemma) as n_lemmas,
       round(avg(length(form)), 4) as avg_word_len,
       round(avg(length(lemma)), 4) as avg_lemma_len,
       cast(sum(case when upos = 'VERB' then 1 else 0 end) as bigint) as n_verbs
from anno where deprel <> 'punct'
group by rollup(lang)
"""


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag -> boundary flag ->
    running sum = session index; per-session rollup. The temporal/window
    analytics depth check (O1/O4 family)."""
    e = read_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet naive timestamps read as NTZ in Spark 4: route the epoch
    # conversion through LTZ (session TZ is UTC, matching DuckDB's epoch())
    epoch = F.expr("cast(cast(ts as timestamp) as long)")
    gapped = e.withColumn(
        "new_sess",
        F.when(epoch - F.lag(epoch).over(w_user) > 1800, 1).otherwise(0),
    ).withColumn(
        "session_ix",
        F.sum("new_sess").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        gapped.groupBy("user_id", "session_ix")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .withColumn("session_ix", F.col("session_ix").cast("bigint"))
    )


O_EVENTS_SESSIONIZE = """
with g as (
  select *,
         case when epoch(ts) - lag(epoch(ts)) over w > 1800 then 1 else 0 end as new_sess
  from events
  window w as (partition by user_id order by ts, event_id)),
s as (
  select *, sum(new_sess) over (partition by user_id order by ts, event_id
                                rows between unbounded preceding and current row) as session_ix
  from g)
select user_id, cast(session_ix as bigint) as session_ix,
       count(*) as n_events, min(ts) as session_start, max(ts) as session_end,
       round(sum(value), 4) as total_value
from s group by user_id, session_ix
"""



# Driver-facing catalog. The correctness driver compares only the FIRST 50
# dict entries against their DuckDB oracles, so this dict is kept at exactly
# <=50 entries and every entry gets a CORRECTNESS_r{N} row every round.
# Ordering policy: least-recently-driver-verified first — the three entries
# that fell outside the r03 window (events_sessionize, conllu_annotated,
# lemma_stats_rollup) lead. Intermediate/replica gates whose operator is
# already hard-checked by a retained entry live in LOCAL_QUERIES below and
# are replayed against the same DuckDB oracles by tests/test_queries.py.
SPARK_QUERIES = {
    # r5 rotation: never-driver-verified gates lead (least-recently-verified
    # policy). toxicity_scores plus the five r5 additions (media_near_dup,
    # decontaminate_eval, vocab_counts, domain_cap, hash_split) enter the
    # driver 50; five r4-verified entries whose operators stay hard-checked
    # by the local 59-way oracle replay (tests/test_queries.py) rotate out:
    # tpch_q3 (q1/q5/q6/q18 keep the TPC-H join/agg shapes driver-green),
    # union_accumulate, top_event_per_user, events_pivot, and
    # dup_detection_window (windowing stays driver-exercised via
    # dedup_exact_first's WindowGroupLimit and domain_cap).
    # r5-late rotation: the seven session-3 additions (deterministic source
    # mixing, DSIR importance, perplexity tiering, sequence packing, token
    # budgeting, ExactSubstr repeated spans + trimming) lead so they get
    # driver-verified this round. Seven r4-verified entries whose operators
    # stay hard-checked elsewhere rotate to LOCAL_QUERIES: tpch_q18
    # (join/agg shapes stay via q1/q5/q6), salted_rule_counts
    # (rule_hit_counts keeps the agg), sentence_stats_rollup (stats_rollup +
    # lemma_stats_rollup keep the rollup), media_frames (multimodal_meta +
    # media_near_dup keep multimodal), dedup_canonical_url
    # (dedup_exact_first + url_canonicalize keep both halves),
    # sentence_segment (conllu_annotated re-splits sentences), and
    # ann_cosine_topk (ann_ivf_topk + embedding_near_dup keep ANN).
    "stratified_sample": q_stratified_sample,
    "importance_scores": q_importance_scores,
    "perplexity_buckets": q_perplexity_buckets,
    "pack_sequences": q_pack_sequences,
    "token_budget": q_token_budget,
    "repeated_spans": q_repeated_spans,
    "trim_repeated_spans": q_trim_repeated_spans,
    "toxicity_scores": q_toxicity_scores,
    "media_near_dup": q_media_near_dup,
    "decontaminate_eval": q_decontaminate,
    "vocab_counts": q_vocab_counts,
    "domain_cap": q_domain_cap,
    "hash_split": q_hash_split,
    "events_sessionize": q_events_sessionize,
    "conllu_annotated": q_conllu_annotated,
    "lemma_stats_rollup": q_lemma_stats_rollup,
    "langid_gate": q_langid_gate,
    "classify_battery": q_classify_battery,
    "rule_hit_counts": q_rule_hit_counts,
    "scrub_urls": q_scrub_urls,
    "pipeline_verdicts": q_pipeline_verdicts,
    "dedup_exact_first": q_dedup_exact_first,
    "anti_join_resume": q_anti_join_resume,
    "slice_assignment": q_slice_assignment,
    "validation_status": q_validation_status,
    "stats_rollup": q_stats_rollup,
    "doc_stats_describe": q_doc_stats_describe,
    "tpch_q1": q_tpch_q1,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "neardup_resolution": q_neardup_resolution,
    "simhash_near_pairs": q_simhash_near_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "embedding_near_dup": q_embedding_near_dup,
    "incremental_srp_pairs": q_incremental_srp_pairs,
    "quality_scores": q_quality_scores,
    "fingerprints": q_fingerprints,
    "html_extract": q_html_extract,
    "url_canonicalize": q_url_canonicalize,
    "domain_blocklist": q_domain_blocklist,
    # r5 session-5 rotation: the distributed KenLM gates take the driver
    # slots of two r4-verified flip/replica gates whose operators stay
    # driver-green via siblings (quality_gate <- quality_scores;
    # langid_heuristic <- langid_gate + model_langid); both rotate to
    # LOCAL_QUERIES and stay bit-exact in the local replay
    "ngram_lm_table": q_ngram_lm_table,
    "ngram_perplexity": q_ngram_perplexity,
    "multimodal_meta": q_multimodal_meta,
    "pii_scrub": q_pii_scrub,
    "model_langid": q_model_langid,
    "model_perplexity": q_model_perplexity,
    "ann_ivf_topk": q_ann_ivf_topk,
    "boilerplate_lines": q_boilerplate_lines,
    "repetition_scores": q_repetition_scores,
}

# Local-only gates: intermediates of driver-checked operators, replayed by
# tests/test_queries.py against the same oracles (simhash_near_pairs consumes
# simhash_values; embedding_near_dup + incremental_srp_pairs consume
# srp_buckets; events_pivot covers the hourly-bucket scalar path).
LOCAL_QUERIES = {
    # r5-late rotation out of the driver 50 (swapped for the seven
    # session-3 gates above); all seven stay bit-exact via the local
    # oracle replay at both SFs (tests/test_queries.py)
    "tpch_q18": q_tpch_q18,
    "salted_rule_counts": q_salted_rule_counts,
    "sentence_stats_rollup": q_sentence_stats_rollup,
    "media_frames": q_media_frames,
    "dedup_canonical_url": q_dedup_canonical_url,
    "sentence_segment": q_sentence_segment,
    "ann_cosine_topk": q_ann_cosine_topk,
    "simhash_values": q_simhash_values,
    "srp_buckets": q_srp_buckets,
    "events_hourly": q_events_hourly,
    # r5 rotation out of the driver 50 (swapped for toxicity_scores):
    # token_count_col is driver-exercised via quality_scores and
    # toxicity_scores' tox_ratio; this gate still replays locally
    "token_counts": q_token_counts,
    # r5 second rotation out (swapped for the five r5 gates above); all
    # five stay bit-exact via the local oracle replay at both SFs
    "tpch_q3": q_tpch_q3,
    "union_accumulate": q_union_accumulate,
    "top_event_per_user": q_top_event_per_user,
    "events_pivot": q_events_pivot,
    "dup_detection_window": q_dup_detection_window,
    # r5 session-4 additions (rotate into the driver 50 in r6):
    # temperature source mixing, deterministic shard shuffle, and the
    # Gopher/MassiveText quality-rule battery
    "temperature_mix": q_temperature_mix,
    "shard_shuffle": q_shard_shuffle,
    "gopher_rules": q_gopher_rules,
    "c4_rules": q_c4_rules,
    "importance_select": q_importance_select,
    "dup_weights": q_dup_weights,
    "mojibake_fix": q_mojibake_fix,
    # r5 session-5 rotation out of the driver 50 (swapped for the two
    # distributed-KenLM gates): operators stay driver-exercised via
    # quality_scores and langid_gate/model_langid; both replay bit-exact
    # locally at sf0.01 + sf0.1
    "quality_gate": q_quality_gate,
    "langid_heuristic": q_langid_heuristic,
    # r5 session-5: BPE tokenizer training — the round-1 pair statistics
    # (the aggregation every merge round reuses); the full merge loop and
    # encoder are pinned vs a sequential reference in tests/test_bpe.py
    "bpe_pair_counts": q_bpe_pair_counts,
}

# Union for local replay + bench lookups.
ALL_QUERIES = {**SPARK_QUERIES, **LOCAL_QUERIES}


def oracle_queries() -> dict[str, str]:
    out = {
        "langid_gate": O_LANGID_GATE,
        "classify_battery": O_CLASSIFY_BATTERY,
        "rule_hit_counts": O_RULE_HIT_COUNTS,
        "scrub_urls": O_SCRUB_URLS,
        "pipeline_verdicts": O_PIPELINE_VERDICTS,
        "dedup_exact_first": O_DEDUP_EXACT_FIRST,
        "anti_join_resume": O_ANTI_JOIN_RESUME,
        "slice_assignment": O_SLICE_ASSIGNMENT,
        "validation_status": O_VALIDATION_STATUS,
        "stats_rollup": O_STATS_ROLLUP,
        "doc_stats_describe": O_DOC_STATS_DESCRIBE,
        "dup_detection_window": O_DUP_DETECTION_WINDOW,
        "union_accumulate": O_UNION_ACCUMULATE,
        "top_event_per_user": O_TOP_EVENT_PER_USER,
        "events_hourly": O_EVENTS_HOURLY,
        "events_pivot": O_EVENTS_PIVOT,
        "tpch_q1": O_TPCH_Q1,
        "tpch_q3": O_TPCH_Q3,
        "tpch_q5": O_TPCH_Q5,
        "tpch_q6": O_TPCH_Q6,
        "tpch_q18": O_TPCH_Q18,
        "minhash_lsh_pairs": _oracle_minhash(),
        "neardup_resolution": _oracle_neardup_resolution(),
        "simhash_values": _oracle_simhash_values(),
        "simhash_near_pairs": _oracle_simhash_pairs(),
        "ngram_jaccard_pairs": O_NGRAM_JACCARD,
        "ann_cosine_topk": O_ANN_COSINE_TOPK,
        "srp_buckets": _oracle_srp_buckets(),
        "embedding_near_dup": _oracle_embedding_near_dup(),
        "incremental_srp_pairs": _oracle_incremental_srp(),
        "quality_scores": O_QUALITY_SCORES,
        "token_counts": O_TOKEN_COUNTS,
        "fingerprints": O_FINGERPRINTS,
        "html_extract": _oracle_html_extract(),
        "url_canonicalize": _oracle_url_canonicalize(),
        "domain_blocklist": _oracle_domain_blocklist(),
        "quality_gate": _oracle_quality_gate(),
        "dedup_canonical_url": _oracle_dedup_canonical_url(),
        "langid_heuristic": O_LANGID_HEURISTIC,
        "multimodal_meta": O_MULTIMODAL_META,
        "media_frames": O_MEDIA_FRAMES,
        "media_near_dup": O_MEDIA_NEAR_DUP,
        "decontaminate_eval": O_DECONTAMINATE,
        "vocab_counts": O_VOCAB_COUNTS,
        "domain_cap": _oracle_domain_cap(),
        "hash_split": O_HASH_SPLIT,
        "stratified_sample": O_STRATIFIED_SAMPLE,
        "importance_scores": _oracle_importance(),
        "pack_sequences": O_PACK_SEQUENCES,
        "token_budget": O_TOKEN_BUDGET,
        "repeated_spans": O_REPEATED_SPANS,
        "trim_repeated_spans": O_TRIM_REPEATED_SPANS,
        "temperature_mix": _oracle_temperature_mix(),
        "shard_shuffle": O_SHARD_SHUFFLE,
        "gopher_rules": O_GOPHER_RULES,
        "c4_rules": O_C4_RULES,
        "importance_select": _oracle_importance_select(),
        "dup_weights": _oracle_dup_weights(),
        "mojibake_fix": _oracle_mojibake_fix(),
        "ngram_lm_table": O_NGRAM_LM_TABLE,
        "ngram_perplexity": _oracle_ngram_perplexity(),
        "bpe_pair_counts": O_BPE_PAIR_COUNTS,
        "sentence_segment": O_SENTENCE_SEGMENT,
        "pii_scrub": O_PII_SCRUB,
        "sentence_stats_rollup": O_SENTENCE_STATS_ROLLUP,
        "ann_ivf_topk": O_ANN_IVF_TOPK,
        "salted_rule_counts": O_SALTED_RULE_COUNTS,
        "boilerplate_lines": O_BOILERPLATE_LINES,
        "repetition_scores": O_REPETITION_SCORES,
        "toxicity_scores": O_TOXICITY_SCORES,
        "events_sessionize": O_EVENTS_SESSIONIZE,
        "conllu_annotated": _oracle_conllu_annotated(),
        "lemma_stats_rollup": _oracle_lemma_stats(),
    }
    # model gates: hard golden-parquet oracles (see _model_golden_oracle);
    # omitted (rows-only fallback) only when no golden exists for the SF
    for kind, name in (("langid", "model_langid"), ("perplexity", "model_perplexity")):
        sql = _model_golden_oracle(kind)
        if sql is not None:
            out[name] = sql
    # same golden-parquet dependency: tile assignment over frozen ppl values
    ppl_buckets = _oracle_perplexity_buckets()
    if ppl_buckets is not None:
        out["perplexity_buckets"] = ppl_buckets
    return out
