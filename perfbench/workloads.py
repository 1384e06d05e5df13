"""The three workloads. Each is a batch job driven in a closed loop by one
client (this process): set up its inputs, warm up by running the same
calls on a slice of the input (the JVM's JIT and Spark's code cache take
several calls to settle), then repeat its timed step until `--seconds`
have passed (at least MIN_STEPS times), check every output, and report
medians.

Every call into the program runs inside `Ctx.span`, which also sets the
Spark job description, so a traced run can attribute the event log's
jobs to the benchmark's own steps.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from perfbench import checks, inputs
from warctools_spark.operators import seen as SEEN
from warctools_spark.operators.archive_ops import (
    records_to_pages,
    warc2warc_decode,
    warc_index,
    warc_valid,
)
from warctools_spark.plans.catalog import Catalog
from warctools_spark.plans.epoch import (
    init_state,
    key_pages,
    restore_bloom,
    resume_state,
    run_crawl,
    run_epoch,
)
from warctools_spark.plans.simulator import simulate_crawl
from warctools_spark.sources.warc import read_warc

MIN_STEPS = 3
SETUP_REPEATS = 3
WARMUP_STEPS = 2  # epoch_bulk epochs over a quarter of the queue
RESUMES = 2


class Clock:
    """Wall-clock spans recorded by the benchmark around its own calls:
    (label, start, end) in epoch seconds, so they line up with the Spark
    event log's millisecond timestamps. A span's `.s` is its duration."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, label: str):
        rec = SimpleNamespace(t0=time.time())
        try:
            yield rec
        finally:
            rec.t1 = time.time()
            rec.s = rec.t1 - rec.t0
            self.spans.append((label, rec.t0, rec.t1))


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    clock: Clock = field(default_factory=Clock)

    @contextmanager
    def span(self, label: str):
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        try:
            with self.clock.span(label) as s:
                yield s
        finally:
            sc.setJobDescription(None)

    def done(self, t0: float, steps: int) -> bool:
        return steps >= MIN_STEPS and time.perf_counter() - t0 >= self.seconds


@dataclass
class Result:
    setup_s: float
    # timed steps as (start, end, units of work done), epoch seconds
    steps: list = field(default_factory=list)
    named: dict = field(default_factory=dict)  # {name: (value, unit)}
    tally: checks.Tally = field(default_factory=checks.Tally)
    info: dict = field(default_factory=dict)  # for the traced-run reader

    @property
    def step_s(self) -> list:
        return [t1 - t0 for t0, t1, _ in self.steps]

    @property
    def step_p50_s(self) -> float:
        return statistics.median(self.step_s)

    @property
    def items_per_s(self) -> float:
        """Median over steps of the work a step did per second of wall."""
        return statistics.median(n / (t1 - t0) for t0, t1, n in self.steps)


def _setup(ctx: Ctx, make_files, prepare=None) -> tuple[object, object, float]:
    """Input generation, timed. `make_files(dir)` writes the input files;
    it runs SETUP_REPEATS times into fresh directories and counts with
    its median. `prepare(files)` is the Spark-side part of setup (keyed
    tables, checkpoints) and runs once, on the last files."""
    times, files = [], None
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        files = make_files(os.path.join(ctx.work, f"inputs{rep}"))
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    state = prepare(files) if prepare is not None else None
    return files, state, statistics.median(times) + time.perf_counter() - t0


def _corpus(d: str):
    """The pages corpus as a frame, written as parquet under `d`."""
    pdf = inputs.pages_frame()
    inputs.write_pages(pdf, os.path.join(d, "pages"))
    return pdf


# ---- epoch_bulk -------------------------------------------------------


def epoch_bulk(ctx: Ctx) -> Result:
    spark = ctx.spark
    want = inputs.bulk_expected(ctx.seed)

    def make_files(d):
        pdf = _corpus(d)
        keys = [inputs.sha1_hex(inputs.P.url_for(i)) for i in inputs.bulk_seen_ids(ctx.seed).tolist()]
        pq.write_table(pa.table({"url_sha1": keys}), os.path.join(d, "seen"))
        return d, pdf

    def prepare(files):
        pages = spark.read.parquet(os.path.join(files[0], "pages"))
        queue, _ = init_state(pages.select("url"))
        pages_keyed = key_pages(pages).localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
        return pages, queue.localCheckpoint(eager=True), pages_keyed

    # prepare() runs the first Python UDFs, so the workers start in setup
    (d, pdf), (pages, queue, pages_keyed), setup_s = _setup(ctx, make_files, prepare)
    seen = spark.read.parquet(os.path.join(d, "seen"))
    quarter = queue.where(F.col("url_sha1") < "4")
    for _ in range(WARMUP_STEPS):
        with ctx.span("warmup"):
            run_epoch(
                spark, pages, quarter, seen, epoch=0,
                k_per_host=inputs.N_PAGES, pages_keyed=pages_keyed,
            )
    res = Result(setup_s=setup_s)
    t0 = time.perf_counter()
    while not ctx.done(t0, len(res.steps)):
        with ctx.span(f"epoch_bulk:{len(res.steps)}") as sp:
            out = run_epoch(
                spark, pages, queue, seen, epoch=0,
                k_per_host=inputs.N_PAGES, pages_keyed=pages_keyed,
            )
        res.steps.append((sp.t0, sp.t1, want["candidates"]))
        fresh = out.queue.select("url_sha1", "depth").collect()
        got = dict(out.metrics)
        got["fresh_digest"] = inputs.digest(sorted(r["url_sha1"] for r in fresh))
        got["fresh_depths"] = {r["depth"] for r in fresh}
        res.tally.add(checks.check_bulk(got, want))
    res.named["bulk_urls_per_s"] = (res.items_per_s, "1/s")
    res.info.update(distinct_targets=want["distinct_targets"], pages=pdf)
    return res


# ---- crawl_loop -------------------------------------------------------


def _catalog_bytes(root: str) -> tuple[int, dict]:
    """Total bytes under the catalog, and {epoch: (bytes, files)} of the
    files each epoch wrote: its table directories (`<table>/epoch=NNNNN`)
    and its manifest (`_manifests/epoch_NNNNN.json`)."""
    total, per_epoch = 0, {}
    for path in glob.glob(os.path.join(root, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        size = os.path.getsize(path)
        total += size
        m = re.search(r"/epoch[=_](\d+)", path)
        if m is not None:
            b, n = per_epoch.get(int(m.group(1)), (0, 0))
            per_epoch[int(m.group(1))] = (b + size, n + 1)
    return total, per_epoch


def crawl_loop(ctx: Ctx) -> Result:
    spark = ctx.spark
    seed_urls = inputs.crawl_seed_urls(ctx.seed)

    def make_files(d):
        pdf = _corpus(d)
        pq.write_table(pa.table({"url": seed_urls}), os.path.join(d, "seeds"))
        return d, pdf

    (d, pdf), _, setup_s = _setup(ctx, make_files)
    pages = spark.read.parquet(os.path.join(d, "pages"))
    seeds = spark.read.parquet(os.path.join(d, "seeds"))
    page_map = dict(zip(pdf["url"], pdf["html"]))
    want_schedules, want_seen = simulate_crawl(
        page_map, seed_urls, inputs.CRAWL_EPOCHS, k_per_host=inputs.CRAWL_K
    )
    crawl_args = dict(
        k_per_host=inputs.CRAWL_K,
        use_bloom=True,
        compact_every=inputs.CRAWL_COMPACT_EVERY,
        bloom_n_buckets=inputs.CRAWL_BUCKETS,
        bloom_capacity_per_bucket=inputs.CRAWL_BLOOM_CAPACITY,
    )
    m_bits, k_hashes = SEEN.optimal_params(inputs.CRAWL_BLOOM_CAPACITY, 0.01)

    res = Result(setup_s=setup_s)
    resume, rs_s, rb_s, cat_bytes = [], [], [], []
    per_epoch_files, compaction_s = [], []
    crawl_commits = []
    t0 = time.perf_counter()
    while not crawl_commits or time.perf_counter() - t0 < ctx.seconds:
        n = len(crawl_commits)
        root = os.path.join(ctx.work, f"catalog{n}")
        catalog = Catalog(root, n_buckets=inputs.CRAWL_BUCKETS)
        with ctx.span(f"crawl_loop:crawl:{n}"):
            metrics = run_crawl(
                spark, pages, seeds, epochs=inputs.CRAWL_EPOCHS, catalog=catalog, **crawl_args
            )
        commits = [catalog.read_manifest(e)["committed_at"] for e in range(len(metrics))]
        # a step is the interval between two commits; epoch 0 (which also
        # pays for init_state, key_pages, the first Bloom build and the
        # Python workers' start) is left out
        res.steps.extend(
            (a, b, m["scheduled"]) for a, b, m in zip(commits, commits[1:], metrics[1:])
        )
        compaction_s.append(commits[inputs.CRAWL_COMPACT_EVERY - 1] - commits[inputs.CRAWL_COMPACT_EVERY - 2])
        for i in range(RESUMES):
            with ctx.span(f"crawl_loop:resume:{n}-{i}") as sp:
                with ctx.clock.span("plans.epoch.resume_state") as s1:
                    _, queue, seen = resume_state(spark, catalog)
                with ctx.clock.span("plans.epoch.restore_bloom") as s2:
                    bloom = restore_bloom(
                        spark, catalog, m_bits, k_hashes, inputs.CRAWL_BUCKETS
                    )
                queue.count()
                n_seen = seen.count()
            resume.append(sp.s)
            rs_s.append(s1.s)
            rb_s.append(s2.s)
        total, per_epoch = _catalog_bytes(root)
        cat_bytes.append(total / n_seen)
        per_epoch_files.extend(per_epoch[e] for e in range(1, len(metrics)))
        schedules = [
            sorted(r["canon_url"] for r in catalog.read_table(spark, "schedule", e).select("canon_url").collect())
            for e in range(len(metrics))
        ]
        got_seen = {r["url_sha1"] for r in seen.collect()}
        res.tally.add(checks.check_crawl(schedules, got_seen, want_schedules, want_seen))
        res.tally.check(bloom is not None, "persisted Bloom filter not restored")
        crawl_commits.append(commits)
    res.named.update(
        crawl_urls_per_s=(res.items_per_s, "1/s"),
        crawl_epoch_p50_s=(res.step_p50_s, "s"),
        resume_s=(statistics.median(resume), "s"),
        catalog_bytes_per_url=(statistics.median(cat_bytes), "B"),
    )
    res.info.update(
        crawl_commits=crawl_commits,
        bloom=bloom,
        resume_state_s=statistics.median(rs_s),
        restore_bloom_s=statistics.median(rb_s),
        compaction_epoch_s=statistics.median(compaction_s),
        catalog_bytes_per_epoch=statistics.median(b for b, _ in per_epoch_files),
        catalog_files_per_epoch=statistics.median(n for _, n in per_epoch_files),
        pages=pdf,
        distinct_targets=len(
            {l for u in set().union(*want_schedules) for l in _targets(u)}
        ),
    )
    return res


def _targets(canon_url: str) -> list[str]:
    doc = int(canon_url.rsplit("/", 1)[1].split(".")[0])
    return [inputs.P.url_for(t) for t in inputs.P.link_targets(doc, inputs.N_PAGES)]


def bloom_fpr(spark, bloom, n: int = 100_000) -> float:
    """Share of `n` never-seen keys the persisted filter reports present."""
    keys = spark.range(n).select(
        F.sha1(F.concat(F.lit("http://never-seen.example/"), F.col("id").cast("string"))).alias("url_sha1")
    )
    probed = SEEN.probe_bucketed(keys, bloom, inputs.CRAWL_BUCKETS)
    return probed.where(F.col("maybe_seen")).count() / n


# ---- archive_ingest ---------------------------------------------------


def _ingest_pass(ctx: Ctx, files: list, out_path: str, label: str):
    """One pass over the archive, as the CLI tools run it: warcindex,
    text extraction, and `warc2warc -D -Z` into `out_path`. `label` has a
    `{}` for the phase name."""
    spark = ctx.spark
    with ctx.span(label.format("index")) as s1:
        index = warc_index(read_warc(spark, files)).select(
            "warc_subject_uri", "filename", "offset"
        ).collect()
    with ctx.span(label.format("extract")) as s2:
        texts = records_to_pages(read_warc(spark, files)).select("url", "text").collect()
    with ctx.span(label.format("rewrite")) as s3:
        size = 0
        rewritten = warc2warc_decode(read_warc(spark, files), gzip_output=True)
        with open(out_path, "wb") as sink:
            for r in rewritten.orderBy("source_file", "offset").toLocalIterator():
                size += sink.write(bytes(r["record_bytes"]))
    return index, texts, size, (s1, s2, s3)


def archive_ingest(ctx: Ctx) -> Result:
    spark = ctx.spark

    def make_files(d):
        pdf = _corpus(d)
        where = inputs.write_warcs(pdf, ctx.seed, os.path.join(d, "warcs"))
        return d, pdf, where

    (d, pdf, where), _, setup_s = _setup(ctx, make_files)
    warc_dir = os.path.join(d, "warcs")
    files = sorted(glob.glob(os.path.join(warc_dir, "*.warc.gz")))
    n_records = len(where)
    url_text = dict(zip(pdf["url"], pdf["text"]))
    want_texts = {u: url_text[u] for u in where}
    _ingest_pass(ctx, files[:1], os.path.join(ctx.work, "warmup.warc.gz"), "warmup")

    res = Result(setup_s=setup_s)
    phase_s = {"index": [], "extract": [], "rewrite": []}
    out_bytes, first = [], None
    t0 = time.perf_counter()
    while not ctx.done(t0, len(res.steps)):
        n = len(res.steps)
        out_path = os.path.join(ctx.work, f"rewrite{n}.warc.gz")
        index, texts, size, (s1, s2, s3) = _ingest_pass(
            ctx, files, out_path, f"archive_ingest:{{}}:{n}"
        )
        for k, s in (("index", s1), ("extract", s2), ("rewrite", s3)):
            phase_s[k].append(s.s)
        res.steps.append((s1.t0, s3.t1, n_records))
        out_bytes.append(size)
        index_rows = sorted((u, os.path.basename(f), o) for u, f, o in index)
        texts = {r["url"]: r["text"] for r in texts}
        with open(out_path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        if first is None:
            res.tally.add(checks.check_index(index_rows, where))
            res.tally.add(checks.check_texts(texts, want_texts))
            from warctools_spark.kernels.warc_parse import parse_archive

            with open(out_path, "rb") as f:
                recs = [(r.url.decode(), r.content, r.errors) for r in parse_archive(f.read())]
            res.tally.add(checks.check_rewrite(recs, want_texts))
            first = (index_rows, texts, digest)
        else:
            # later passes must reproduce the checked first pass exactly
            res.tally.check(index_rows == first[0], f"pass {n} index differs")
            res.tally.check(texts == first[1], f"pass {n} texts differ")
            res.tally.check(digest == first[2], f"pass {n} rewritten bytes differ")
        os.remove(out_path)
    with ctx.span("check:warc_valid"):
        n_errors = warc_valid(read_warc(spark, files)).count()
    res.tally.add(checks.check_parse_errors(n_errors, n_records))
    med = {k: statistics.median(v) for k, v in phase_s.items()}
    res.named.update(
        index_records_per_s=(n_records / med["index"], "1/s"),
        extract_pages_per_s=(n_records / med["extract"], "1/s"),
        rewrite_mb_per_s=(statistics.median(out_bytes) / 1e6 / med["rewrite"], "MB/s"),
    )
    res.info.update(
        pages=pdf,
        rewrite_bytes=statistics.median(out_bytes),
        distinct_targets=len({l for u in where for l in _targets(u)}),
    )
    return res


WORKLOADS = {
    "epoch_bulk": epoch_bulk,
    "crawl_loop": crawl_loop,
    "archive_ingest": archive_ingest,
}


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
