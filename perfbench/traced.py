"""Per-layer metrics of a traced run: the kernel microtimings plus the
event-log attribution of `eventlog`, reduced to the names listed under
`per_layer` in BENCHMARK.json. Every traced run reports every name; a
layer the workload does not run reads 0.
"""

from __future__ import annotations

import statistics

from perfbench import eventlog as EL
from perfbench import kernels_timing


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def _frontier(log, stages, n_steps: int) -> dict:
    """run_epoch layers (epoch_bulk, and the epochs inside crawl_loop)."""
    out = {}
    by_layer = {}
    for st in stages:
        by_layer.setdefault(EL.classify(log, st), []).append(st)
    harvest_rows = EL.metric_sum(log, stages, EL.ROWS, "_harvest_flat")
    deduped_rows = 0.0
    fresh_rows = 0.0
    for st in stages:
        for name, s, m, v in log.node_metrics(st):
            if m != EL.ROWS:
                continue
            if "Aggregate" in name and "min(struct(depth" in s and "partial_min" not in s:
                deduped_rows += v
            if "LeftAnti" in s and "url_sha1" in s and EL.classify(log, st) == "operators.frontier.anti_join":
                fresh_rows += v
    dedup_bytes = sum(
        st.shuffle_written for st in stages
        if any("hashpartitioning(url_sha1" in s and m == EL.SHUFFLE_WRITTEN and v > 0
               for _, s, m, v in log.node_metrics(st))
    )
    out["operators.frontier.dedup_shuffle_bytes"] = _per(dedup_bytes, n_steps)
    out["operators.frontier.dup_share"] = 1 - deduped_rows / harvest_rows if harvest_rows else 0.0
    out["operators.frontier.fresh_share"] = fresh_rows / deduped_rows if deduped_rows else 0.0
    out["operators.frontier.politeness_max_task_share"] = EL.max_task_share(
        by_layer.get("operators.frontier.politeness", [])
    )
    return out


def per_layer(workload: str, log, res, clock, untraced_p50: float | None, seed: int) -> tuple[dict, dict]:
    """Returns ({metric: value}, {workload phase: layer table})."""
    m: dict[str, float] = {}
    m.update(kernels_timing.time_kernels(res.info["pages"], seed))
    m["kernels.canon.distinct_targets"] = res.info["distinct_targets"]

    prefix = f"{workload}:"
    steps = [s for s in clock.spans if s[0].startswith(prefix)]
    tables = {}
    phases = sorted({label.rsplit(":", 1)[0] for label, _, _ in steps})
    for phase in phases:
        spans = [s for s in steps if s[0].rsplit(":", 1)[0] == phase]
        tables[phase] = EL.table(log, spans)

    # per-step averages: per epoch step, per crawl, per archive pass
    if workload == "crawl_loop":
        layer_spans = [s for s in steps if ":crawl:" in s[0]]
        n = len(layer_spans)
    else:
        layer_spans, n = steps, len(res.step_s)
    layer_stages = EL.span_stages(log, layer_spans)
    wall = {}
    for span in layer_spans:
        for layer, s in EL.span_layers(log, span)[0].items():
            wall[layer] = wall.get(layer, 0.0) + s

    m["functions.python_run_s"] = _per(EL.metric_sum(log, layer_stages, EL.PY_TIME) / 1e3, n)
    m["functions.arrow_sent_bytes"] = _per(EL.metric_sum(log, layer_stages, EL.PY_SENT), n)
    m["functions.arrow_returned_bytes"] = _per(EL.metric_sum(log, layer_stages, EL.PY_RETURNED), n)
    for name, layer in (
        ("operators.frontier.harvest_s", "operators.frontier.harvest"),
        ("operators.frontier.dedup_within_s", "operators.frontier.dedup_within"),
        ("operators.frontier.anti_join_s", "operators.frontier.anti_join"),
        ("operators.frontier.politeness_s", "operators.frontier.politeness"),
        ("plans.epoch.checkpoint_s", "plans.epoch.checkpoint"),
        ("plans.epoch.key_pages_s", "plans.epoch.key_pages"),
        ("operators.seen.bloom_build_s", "operators.seen.bloom_build"),
        ("operators.archive_ops.extract_s", "operators.archive_ops.extract"),
        ("operators.archive_ops.rewrite_s", "operators.archive_ops.rewrite"),
    ):
        m[name] = _per(wall.get(layer, 0.0), n)
    m.update(_frontier(log, layer_stages, n))
    m["spark.fetch_wait_s"] = _per(sum(s.fetch_wait_s for s in layer_stages), n)
    m["spark.gc_s"] = _per(sum(s.gc_s for s in layer_stages), n)
    m["spark.spill_bytes"] = _per(sum(s.spill_bytes for s in layer_stages), n)

    m.update(_crawl(log, res) if workload == "crawl_loop" else dict.fromkeys(CRAWL_KEYS, 0.0))
    m.update(_archive(log, steps, res) if workload == "archive_ingest" else dict.fromkeys(ARCHIVE_KEYS, 0.0))

    traced_wall = sum(t1 - t0 for _, t0, t1 in steps)
    attributed = sum(sum(EL.span_layers(log, s)[0].values()) for s in steps)
    m["trace.layer_sum_share"] = attributed / traced_wall if traced_wall else 0.0
    m["trace.traced_step_p50_s"] = res.step_p50_s
    m["trace.overhead_s"] = res.step_p50_s - untraced_p50 if untraced_p50 else 0.0
    return m, tables


CRAWL_KEYS = (
    "plans.epoch.jobs_per_epoch",
    "plans.epoch.tasks_per_epoch",
    "plans.epoch.driver_idle_s_per_epoch",
    "plans.catalog.bytes_written_per_epoch",
    "plans.catalog.files_written_per_epoch",
    "plans.catalog.compaction_epoch_s",
    "plans.epoch.resume_state_s",
    "plans.epoch.restore_bloom_s",
    "operators.seen.fpr_measured",
)
ARCHIVE_KEYS = (
    "sources.warc.scan_s",
    "sources.warc.parse_s",
    "sources.warc.max_task_share",
    "operators.archive_ops.bytes_written",
)


def _crawl(log, res) -> dict:
    """Per-epoch counts, with epochs delimited by manifest commit times."""
    jobs, tasks, idle = [], [], []
    for commits in res.info["crawl_commits"]:
        for a, b in zip(commits, commits[1:]):
            in_epoch = [j for j in log.jobs.values() if a < j[1] <= b]
            jobs.append(len(in_epoch))
            sts = [log.stages[s] for j in in_epoch for s in j[3] if s in log.stages]
            tasks.append(sum(len(s.tasks) for s in sts))
            intervals = sorted((max(s.submit, a), min(s.complete, b)) for s in sts if s.complete > 0)
            covered, end = 0.0, a
            for lo, hi in intervals:
                lo = max(lo, end)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            idle.append((b - a) - covered)
    return {
        "plans.epoch.jobs_per_epoch": statistics.median(jobs),
        "plans.epoch.tasks_per_epoch": statistics.median(tasks),
        "plans.epoch.driver_idle_s_per_epoch": statistics.median(idle),
        "plans.catalog.bytes_written_per_epoch": res.info["catalog_bytes_per_epoch"],
        "plans.catalog.files_written_per_epoch": res.info["catalog_files_per_epoch"],
        "plans.catalog.compaction_epoch_s": res.info["compaction_epoch_s"],
        "plans.epoch.resume_state_s": res.info["resume_state_s"],
        "plans.epoch.restore_bloom_s": res.info["restore_bloom_s"],
        "operators.seen.fpr_measured": res.info["fpr_measured"],
    }


def _archive(log, steps, res) -> dict:
    """The index phase is read_warc alone: its stage wall splits into the
    binaryFile scan and the Python parse by the parse node's share of
    task time."""
    index = [s for s in steps if ":index:" in s[0]]
    st = EL.span_stages(log, index)
    n = len(res.step_s)
    scan = parse = 0.0
    for stage in st:
        py = sum(v for _, s, m, v in log.node_metrics(stage) if m == EL.PY_TIME and "parse(" in s)
        frac = min(1.0, py / 1e3 / stage.task_s) if stage.task_s else 0.0
        parse += stage.wall * frac
        scan += stage.wall * (1 - frac)
    return {
        "sources.warc.scan_s": _per(scan, n),
        "sources.warc.parse_s": _per(parse, n),
        "sources.warc.max_task_share": EL.max_task_share(st),
        "operators.archive_ops.bytes_written": res.info["rewrite_bytes"],
    }
