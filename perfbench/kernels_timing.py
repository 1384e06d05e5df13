"""In-process timing of the `kernels.*` functions on a fixed, seed-chosen
sample of the corpus pages: the per-layer numbers for decode, link scan,
canonicalisation and WARC parse/write, with no Spark or Arrow in the way.

Each figure is the median over REPEATS passes of the whole sample,
divided by the items in it.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from perfbench import inputs
from warctools_spark.kernels.canon import canon_parts_fast
from warctools_spark.kernels.http_decode import decode_http
from warctools_spark.kernels.links import extract_links
from warctools_spark.kernels.warc_parse import parse_archive

SAMPLE_PER_VARIANT = 250  # pages of each HTTP wire variant
REPEATS = 5
PARSE_SIZES = {"small": 100, "full": 2_000}  # records per archive file
VARIANTS = ("cl", "gzip", "chunked", "chunked_gzip")  # doc_id % 4


def _median_s(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sample_ids(seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, 4])
    out = {}
    for v, name in enumerate(VARIANTS):
        ids = np.arange(v, inputs.N_PAGES, 4)
        out[name] = rng.choice(ids, size=SAMPLE_PER_VARIANT, replace=False)
    return out


def time_kernels(pages, seed: int) -> dict[str, float]:
    """`pages` is the corpus frame (url, warc_ts, html, ...)."""
    out: dict[str, float] = {}
    ids = sample_ids(seed)
    urls = pages["url"].to_numpy()
    htmls = pages["html"].to_numpy()
    bodies, base_urls = [], []
    for name in VARIANTS:
        payloads = [bytes(htmls[i]) for i in ids[name]]

        def decode(payloads=payloads):
            for p in payloads:
                decode_http(p, kind="response").decoded_body()

        out[f"kernels.http_decode.us_per_page.{name}"] = (
            _median_s(decode) / len(payloads) * 1e6
        )
        bodies += [decode_http(p, kind="response").decoded_body() for p in payloads]
        base_urls += [urls[i] for i in ids[name]]

    def links():
        for u, b in zip(base_urls, bodies):
            extract_links(u, b)

    out["kernels.links.us_per_page"] = _median_s(links) / len(bodies) * 1e6
    all_links = [l for u, b in zip(base_urls, bodies) for l in extract_links(u, b)]

    def canon():
        for l in all_links:
            canon_parts_fast(l)

    out["kernels.canon.us_per_link"] = _median_s(canon) / len(all_links) * 1e6

    sample = np.concatenate([ids[name] for name in VARIANTS])
    records = [
        inputs.response_record(urls[i], pages["warc_ts"].iat[i], htmls[i])
        for i in sample
    ]

    def write():
        for i in sample:
            inputs.response_record(urls[i], pages["warc_ts"].iat[i], htmls[i])

    out["kernels.warc_write.us_per_record"] = _median_s(write, 3) / len(sample) * 1e6
    for label, n in PARSE_SIZES.items():
        archive = b"".join(records[j % len(records)] for j in range(n))

        def parse(archive=archive):
            for rec in parse_archive(archive):
                if rec.errors:
                    raise RuntimeError(f"parse error in kernel sample: {rec.errors}")

        out[f"kernels.warc_parse.us_per_record.{label}"] = (
            _median_s(parse, 3) / n * 1e6
        )
    return out
