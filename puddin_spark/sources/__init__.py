"""Sources: Pile-style jsonlines -> the canonical pages table.

S1 in SURVEY.md section 2.1: the reference streams .jsonl and keeps
d['text'] where d['meta']['pile_set_name'] == selected
(parse_pile.py:566-579). Spark-native: spark.read.json with an explicit
schema (no sampling pass), filter pushed to the scan, and the subset
predicate expressed on the nested column. The reference's jsonl has no urls
or timestamps, so stable synthetic ones are derived (url from the source
label + row hash; warc_ts constant) — document identity downstream is
sha2(url) exactly as for crawl input.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PILE_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField(
            "meta",
            T.StructType([T.StructField("pile_set_name", T.StringType())]),
        ),
    ]
)

# pile_set_name -> code (parse_pile.py:37-41 _PILE_SET_CODE_DICT); feeds
# reference_ids.add_raw_ids/add_slice_ids `code=` for reference-id parity
PILE_SET_CODES = {
    "Gutenberg (PG-19)": "Pgn",
    "Books3": "Bks",
    "BookCorpus2": "Bkc",
    "Pile-CC": "Pcc",
    "OpenWebText2": "Owt",
}


def pile_set_code(subset: str) -> str:
    """Lowercased reference code for a Pile subset (create_ids uses the
    lowercase form, parse_pile.py:754)."""
    return PILE_SET_CODES.get(subset, subset[:3]).lower()


def read_pile_jsonl(
    spark: SparkSession,
    path: str,
    selected_subset: str = "Pile-CC",
    source_label: str | None = None,
) -> DataFrame:
    """jsonl file(s) -> pages table (url, warc_ts, html, text, lang).

    The subset filter is the reference's corpus gate (S1); `lang` is set to
    'en' for the selected subset (the Pile-CC corpus is English web text),
    so the downstream pipeline's language gate passes these docs through.
    """
    label = source_label or "pile"
    raw = spark.read.schema(PILE_SCHEMA).json(path)
    sel = raw.filter(F.col("meta.pile_set_name") == selected_subset)
    return sel.select(
        F.concat(
            F.lit(f"pile://{label}/"),
            F.sha2(F.col("text"), 256).substr(1, 16),
        ).alias("url"),
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.lit("en").alias("lang"),
    )


# --- WARC source (Common Crawl's native format) ---

WARC_PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


_WARC_CHUNK = 1 << 20  # 1 MiB decompressed read granularity


def _iter_warc_stream(stream):
    """Minimal WARC/1.0 parser over a binary file-like: yields
    (url, iso_ts, html_bytes, text) per response record.

    Streaming: reads _WARC_CHUNK at a time and keeps only the bytes of the
    record currently being assembled — peak memory is O(largest record), not
    O(decompressed file) (a multi-GiB .warc.gz member can't OOM an executor).
    Content-Length bounds each record body, so bodies containing the WARC
    magic cannot desynchronize the scan.

    Text extraction is deliberately crude (strip tags/scripts, collapse
    whitespace): the quality battery downstream is what decides keep/drop;
    swap in a real extractor (trafilatura/justext) on a cluster that has it.
    """
    import re as _re

    buf = b""
    eof = False

    def _fill(need: int) -> bool:
        # grow buf to >= need bytes; False if the stream ends first
        nonlocal buf, eof
        while len(buf) < need and not eof:
            chunk = stream.read(max(_WARC_CHUNK, need - len(buf)))
            if not chunk:
                eof = True
            else:
                buf += chunk
        return len(buf) >= need

    while True:
        # locate the next record header (discard garbage between records)
        while True:
            start = buf.find(b"WARC/1.0\r\n")
            if start < 0:
                if eof:
                    return
                # keep a tail in case the magic straddles a chunk boundary
                if len(buf) > 64:
                    buf = buf[-64:]
                _fill(len(buf) + _WARC_CHUNK)
                continue
            if start > 0:
                buf = buf[start:]  # drop inter-record garbage
                start = 0
            head_end = buf.find(b"\r\n\r\n")
            if head_end >= 0:
                break
            if eof:
                return
            _fill(len(buf) + _WARC_CHUNK)
        headers = {}
        for line in buf[start + 10 : head_end].split(b"\r\n"):
            k, _, v = line.partition(b": ")
            headers[k.decode("latin-1").lower()] = v.decode("latin-1")
        length = int(headers.get("content-length", "0"))
        if not _fill(head_end + 4 + length):
            return  # truncated final record
        block = buf[head_end + 4 : head_end + 4 + length]
        buf = buf[head_end + 4 + length :]
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        ts = headers.get("warc-date", "1970-01-01T00:00:00Z")
        # the block is an HTTP response: skip its headers
        _, _, body = block.partition(b"\r\n\r\n")
        html = (body or block).rstrip(b"\r\n")
        txt = html.decode("utf-8", errors="replace")
        txt = _re.sub(r"(?is)<(script|style)[^>]*>.*?</\1>", " ", txt)
        txt = _re.sub(r"(?s)<[^>]+>", " ", txt)
        txt = _re.sub(r"[ \t\f\v\r]+", " ", txt).strip()
        yield url, ts, html, txt


def read_warc(spark: SparkSession, path: str, lang: str = "en") -> DataFrame:
    """WARC file(s) -> pages table. One task per file via binaryFile (the
    standard first approach for .warc.gz, whose gzip members are not
    block-splittable; at cluster scale parallelism = number of WARC files,
    which Common Crawl ships ~64k per snapshot)."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches):
        import gzip
        import io

        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                raw = io.BytesIO(bytes(content))
                # GzipFile streams concatenated members (the Common Crawl
                # one-member-per-record layout) without ever materializing
                # the decompressed file — peak memory is one record
                stream = gzip.GzipFile(fileobj=raw) if p.endswith(".gz") else raw
                for url, ts, html, txt in _iter_warc_stream(stream):
                    t = pd.Timestamp(ts)
                    if t.tzinfo is not None:
                        t = t.tz_convert("UTC").tz_localize(None)
                    rows.append((url, t, html, txt, lang))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return files.mapInPandas(parse, schema=WARC_PAGES_SCHEMA)
