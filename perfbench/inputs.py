"""Benchmark inputs: the pages corpus, the seed-chosen parts of each
workload's input, the WARC files of `archive_ingest`, and the expected
outputs the checks compare against.

The corpus is the engine's own synthetic `pages` layout
(`warctools_spark.sources.pages.pages_pdf`): 15 hosts, one hot host with
30% of the pages, 8 links per page by a fixed formula, and the four HTTP
wire variants (Content-Length, gzip, chunked, chunked+gzip) in turn. The
document texts come from a fixed generator shaped like the sf0.1
`documents` table (5,000 texts of 8-90 words over a 30-word vocabulary),
so the corpus is the same in every run; the `--seed` chooses only which
URLs are seeds or already seen and how pages are spread over WARC files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from warctools_spark.kernels.warc_write import (
    warc_datetime_str,
    warc_uuid,
    write_warc_record,
)
from warctools_spark.sources import pages as P

N_DOCS = 5_000  # the sf0.1 documents table
N_PAGES = 10_000  # sf0.1 x2
PAGE_FILES = 8  # parquet files of the pages table (one scan task each)
CORPUS_SEED = 2013  # fixed: the corpus is not seed-dependent

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")

# crawl_loop
CRAWL_SEEDS = 100
CRAWL_K = 20  # 15 hosts x 20 = 300 pages per epoch, 3% of the corpus
CRAWL_EPOCHS = 3
CRAWL_COMPACT_EVERY = 2  # epoch 1 compacts the seen deltas
CRAWL_BUCKETS = 4
CRAWL_BLOOM_CAPACITY = 1 << 12  # seen keys per bucket: about corpus / buckets

# archive_ingest
WARC_FILES = 8
WARC_RECORDS_PER_FILE = 125
WARC_CONTENT_TYPE = b"application/http;msgtype=response"


def documents() -> pd.DataFrame:
    rng = np.random.default_rng(CORPUS_SEED)
    lengths = rng.integers(8, 90, size=N_DOCS)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + n]))
        at += n
    langs = rng.integers(0, len(LANGS), size=N_DOCS)
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS),
            "text": texts,
            "lang": [LANGS[i] for i in langs],
        }
    )


def pages_frame() -> pd.DataFrame:
    """The pages corpus, page i reusing document i mod 5,000 (the layout
    `synthesize_pages(expand=2)` gives)."""
    docs = documents()
    ids = np.arange(N_PAGES)
    expanded = pd.DataFrame(
        {
            "doc_id": ids,
            "text": docs["text"].to_numpy()[ids % N_DOCS],
            "lang": docs["lang"].to_numpy()[ids % N_DOCS],
        }
    )
    return P.pages_pdf(expanded, N_PAGES)


def write_pages(pages: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(pages) // PAGE_FILES)
    for i in range(PAGE_FILES):
        part = pa.Table.from_pandas(
            pages.iloc[i * step : (i + 1) * step], preserve_index=False
        )
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:03d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


def sha1_hex(s: str) -> str:
    return hashlib.sha1(s.encode("utf-8")).hexdigest()


def link_universe() -> np.ndarray:
    """Every page id some page links to, by the `sources.pages` formula
    (vectorised `link_targets`)."""
    d = np.arange(N_PAGES, dtype=np.int64)[:, None]
    i = np.arange(P.N_LINKS, dtype=np.int64)[None, :]
    return np.unique((d * 31 + i * 97 + 7) % N_PAGES)


# ---- seed-chosen parts of each workload's input ----


def bulk_seen_ids(seed: int) -> np.ndarray:
    """A seed-chosen half of the link universe, already seen."""
    universe = link_universe()
    rng = np.random.default_rng([seed, 1])
    return np.sort(rng.choice(universe, size=len(universe) // 2, replace=False))


def crawl_seed_urls(seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 2])
    ids = rng.choice(N_PAGES, size=CRAWL_SEEDS, replace=False)
    return [P.url_for(int(i)) for i in ids]


def warc_assignment(seed: int) -> list[np.ndarray]:
    """Page ids of each WARC file, in record order."""
    rng = np.random.default_rng([seed, 3])
    ids = rng.permutation(N_PAGES)[: WARC_FILES * WARC_RECORDS_PER_FILE]
    return np.split(ids, WARC_FILES)


# ---- WARC files ----


def response_record(url: str, ts, http: bytes) -> bytes:
    headers = [
        (b"WARC-Type", b"response"),
        (b"WARC-Record-ID", warc_uuid(url.encode("utf-8"))),
        (b"WARC-Date", warc_datetime_str(ts.to_pydatetime().replace(tzinfo=None))),
        (b"WARC-Target-URI", url.encode("utf-8")),
    ]
    return write_warc_record(headers, WARC_CONTENT_TYPE, http, gzip_record=True)


def write_warcs(pages: pd.DataFrame, seed: int, path: str) -> dict:
    """Per-record-gzip .warc.gz files through `kernels.warc_write`.
    Returns {url: (file name, offset)} for every record written."""
    os.makedirs(path, exist_ok=True)
    where = {}
    for f, ids in enumerate(warc_assignment(seed)):
        name = f"part-{f:03d}.warc.gz"
        buf = bytearray()
        for i in ids:
            url = pages["url"].iat[i]
            where[url] = (name, len(buf))
            buf += response_record(url, pages["warc_ts"].iat[i], pages["html"].iat[i])
        with open(os.path.join(path, name), "wb") as out:
            out.write(buf)
    return where


# ---- expected outputs ----


def bulk_expected(seed: int) -> dict:
    """What one `run_epoch` over the fully queued corpus must produce,
    computed with pandas and hashlib from the link formula alone: every
    link target not already seen is fresh at depth 1."""
    universe = link_universe()
    seen_ids = bulk_seen_ids(seed)
    fresh_ids = np.setdiff1d(universe, seen_ids, assume_unique=True)
    fresh = sorted(sha1_hex(P.url_for(int(i))) for i in fresh_ids)
    return {
        "scheduled": N_PAGES,
        "deduped_new": len(fresh),
        "queue_size": len(fresh),
        "seen_size": len(seen_ids) + len(fresh),
        "fresh_digest": digest(fresh),
        "candidates": N_PAGES * P.N_LINKS,
        "distinct_targets": len(universe),
    }


def digest(keys: list[str]) -> str:
    return hashlib.sha1("\n".join(keys).encode("ascii")).hexdigest()
