"""Seeded inputs for the benchmark workloads.

The ingest workload reuses the program's own synthetic web-page table
(`synth.gen_rows`) at a seed-dependent row offset, plus the 61 reference
fixtures. The sidecar workload uses the generator below instead:
`synth.py`'s 20-word template prose makes every page a near-duplicate of
every other, which turns the near-dedup pair stages quadratic.

Sidecar pages are sentences of words drawn from a large random vocabulary,
so unrelated pages sit near Jaccard 0 on word 3-shingles and near cosine 0
under the signed bag-of-words embedding. Near-duplicates are planted in
families, each around one ordinary page (its original):

- `sub` copies replace one interior token with another vocabulary word.
  Word-shingle Jaccard stays ~0.97, so the minhash sidecar flips them.
- `perm` copies shuffle the interior tokens of every sentence. The
  whitespace-token multiset, the capitalised first token and the
  sentence-final `word.` token stay put, so the embedding is unchanged
  (cosine 1.0) while shingle Jaccard falls near 0: only the embedding
  sidecar flips them.

Copies land either in the original's batch (new-vs-new pairs and cluster
resolution) or in a later batch (vs-committed). One hot family spreads a
bounded number of `sub` copies over every timed batch.
"""
from __future__ import annotations

import datetime as dt
import random
import string

import pandas as pd

VOCAB_SIZE = 8000
# families planted per timed batch, per (kind, placement)
FAMILIES_PER_KIND = 8
HOT_COPIES_PER_BATCH = 6

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _vocab(rng: random.Random) -> list[str]:
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = rng.randint(4, 10)
        words.add("".join(rng.choice(string.ascii_lowercase) for _ in range(n)))
    return sorted(words)


def _page(rng: random.Random, vocab: list[str]) -> list[list[str]]:
    """A page as sentences of tokens: Capitalised first word, 8-14 interior
    words, final `word.` token."""
    sents = []
    for _ in range(rng.randint(9, 15)):
        body = [rng.choice(vocab) for _ in range(rng.randint(8, 14))]
        sents.append([rng.choice(vocab).capitalize(), *body, rng.choice(vocab) + "."])
    return sents


def _text(sents: list[list[str]]) -> str:
    return " ".join(" ".join(s) for s in sents)


def _sub_copy(rng, vocab, sents):
    out = [list(s) for s in sents]
    s = rng.randrange(len(out))
    i = rng.randrange(1, len(out[s]) - 1)
    out[s][i] = rng.choice([w for w in rng.sample(vocab, 2) if w != out[s][i]])
    return out


def _perm_copy(rng, sents):
    out = []
    for s in sents:
        mid = s[1:-1]
        rng.shuffle(mid)
        out.append([s[0], *mid, s[-1]])
    return out


def sidecar_batches(seed: int, batch_docs: int, timed_batches: int):
    """(batches, families): batch 0 is the seed ingest, batches 1..T are the
    timed ones, each a DataFrame of exactly `batch_docs` rows. `families`
    maps a family name to the urls of all its members (original first)."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    pages: dict[str, list[list[str]]] = {}
    batches: list[list[tuple[str, str]]] = []
    families: dict[str, list[str]] = {}

    def add(b, url, sents):
        pages[url] = sents
        batches[b].append((url, _text(sents)))

    hot_url = None
    unused: list[str] = []  # earlier plain pages no family has used yet
    for b in range(timed_batches + 1):
        batches.append([])
        n_copies = 0
        if b > 0:
            n_copies = 4 * FAMILIES_PER_KIND + HOT_COPIES_PER_BATCH
        plain = []
        for i in range(batch_docs - n_copies):
            url = f"https://bench.example.net/s{seed}/b{b}/p{i}"
            add(b, url, _page(rng, vocab))
            plain.append(url)
        if b == 0:
            hot_url = plain.pop(0)
            families["hot"] = [hot_url]
            unused = plain
            continue
        # originals: this batch's own plain pages (same-batch families) and
        # earlier batches' unused plain pages (vs-committed families)
        same = rng.sample(plain, 2 * FAMILIES_PER_KIND)
        prev = rng.sample(unused, 2 * FAMILIES_PER_KIND)
        unused = [u for u in unused if u not in prev] + [
            u for u in plain if u not in same
        ]
        for j, orig in enumerate(same + prev):
            kind = "sub" if j % 2 == 0 else "perm"
            sents = pages[orig]
            copy = (
                _sub_copy(rng, vocab, sents)
                if kind == "sub"
                else _perm_copy(rng, sents)
            )
            url = f"https://bench.example.net/s{seed}/b{b}/c{j}"
            add(b, url, copy)
            families[f"{kind}-b{b}-{j}"] = [orig, url]
        for j in range(HOT_COPIES_PER_BATCH):
            url = f"https://bench.example.net/s{seed}/b{b}/h{j}"
            add(b, url, _sub_copy(rng, vocab, pages[hot_url]))
            families["hot"].append(url)
        rng.shuffle(batches[b])
    frames = []
    for b, rows in enumerate(batches):
        frames.append(
            pd.DataFrame(
                {
                    "url": [u for u, _ in rows],
                    "warc_ts": [
                        _EPOCH + dt.timedelta(seconds=b * 86_400 + i)
                        for i in range(len(rows))
                    ],
                    "html": [None] * len(rows),
                    "text": [t for _, t in rows],
                    "lang": ["en"] * len(rows),
                }
            )
        )
    return frames, families


def write_parquet(frame: pd.DataFrame, path, files: int = 1) -> None:
    """`frame` as `files` parquet files in the input schema, written
    driver-side (no Spark job, so no Python worker starts before the
    warm-up). The scan makes about one split per file here, so `files`
    sets the parallelism of the pre-shuffle UDF stage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    path.mkdir(parents=True, exist_ok=True)
    table = pa.Table.from_pandas(frame, schema=schema, preserve_index=False)
    step = -(-len(frame) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i}.parquet")


def ingest_rows(seed: int, docs: int) -> pd.DataFrame:
    """`docs` rows of the program's synthetic table: the 61 reference
    fixtures plus synthetic rows at a seed-dependent offset."""
    from puddin_spark import synth

    fixtures = synth.gen_rows(0, 61)
    start = 61 + seed * docs
    rows = synth.gen_rows(start, start + docs - len(fixtures))
    return pd.concat([fixtures, rows], ignore_index=True)
