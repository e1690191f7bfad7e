"""Metric definitions: units, and how each is computed from a run.

End-to-end metrics come from the untraced jobs: the median job time, the
input rows one such job processes per second, and the median over jobs
of each job's peak resident memory. Per-layer metrics come
from a ``--trace 1`` run: span times from its traced jobs, engine
counters (event log) from its untraced jobs, so checkpoints added for
tracing do not inflate them. A layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import self_times

UNITS = {
    # end to end
    "setup_s": "s",
    "job_p50_s": "s",
    "input_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    # session
    "session.start_s": "s",
    "session.warmup_s": "s",
    # sources
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "B",
    "sources.docstore_read_s": "s",
    # functions
    "functions.clean_s": "s",
    # operators
    "operators.self_s": "s",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.dedup_keep_ratio": "ratio",
    # plans
    "plans.build_ms": "ms",
    "plans.first_task_wait_ms": "ms",
    "plans.jobs_per_job": "count",
    # sinks
    "sinks.write_s": "s",
    "sinks.verify_s": "s",
    "sinks.rows_written": "count",
    "sinks.bytes_per_row": "B",
    "sinks.batches": "count",
    "sinks.success_rate": "ratio",
    # ext
    "ext.quality_lang_s": "s",
    "ext.exact_dedup_s": "s",
    "ext.decontam_s": "s",
    "ext.minhash_s": "s",
    "ext.docs_kept_ratio": "ratio",
    "ext.near_dup_pairs": "count",
    # streaming
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.late_rows_dropped": "count",
    # exec (engine-wide)
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_util": "ratio",
    "exec.gc_s": "s",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    # tracing itself
    "trace.overhead_ratio": "ratio",
}

#: Span time per layer metric: (metric, span names summed per job).
SPAN_METRICS = [
    ("sources.scan_s", ("sources.scan_parquet",)),
    ("sources.docstore_read_s", ("sources.docstore_read",)),
    ("sinks.write_s", ("sinks.foreach_partition_write", "sinks.docstore_write",
                       "sinks.write_parquet")),
    ("sinks.verify_s", ("sinks.verify_write",)),
    ("ext.quality_lang_s", ("inline.exact_dedup",)),
    ("ext.exact_dedup_s", ("ext.exact_dedup",)),
    ("ext.decontam_s", ("ext.decontaminate", "inline.decontaminate")),
    ("ext.minhash_s", ("ext.minhash_near_dup_pairs",)),
]


#: Layer of the inline work a pipeline function does before a layer call
#: (``inline.<call>`` spans, see ``workloads.traced_layers``): in
#: ``train_corpus_pipeline`` the quality and language filter feeds
#: ``exact_dedup`` and the evaluation-set filter feeds ``decontaminate``;
#: in ``csv_report_pipeline`` the derived columns feed ``dedup_keep_first``.
#: Other inline work (joins, filters, projections) counts as operators.
INLINE_LAYER = {
    "inline.exact_dedup": "ext",
    "inline.decontaminate": "ext",
    "inline.dedup_keep_first": "functions",
}


def layer_of(span_name: str) -> str:
    if span_name.startswith("inline."):
        return INLINE_LAYER.get(span_name, "operators")
    return span_name.split(".", 1)[0]


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def end_to_end(run) -> dict:
    jobs = [j for j in run.jobs if j["phase"] == "untraced"]
    job_p50 = median(j["s"] for j in jobs)
    return {
        "setup_s": run.start_s + run.warmup_s,
        "job_p50_s": job_p50,
        "input_rows_per_s": _ratio(sum(run.sizes[t] for t in run.wl.input_tables), job_p50),
        "peak_rss_mb": median(j["rss"] for j in jobs) / 2**20,
    }


def per_layer(run, tracer, events, streams) -> dict:
    untraced = [j for j in run.jobs if j["phase"] == "untraced"]
    traced = [j for j in run.jobs if j["phase"] == "traced"]
    by_index = {i: j for i, j in enumerate(run.jobs)}
    out = {"session.start_s": run.start_s, "session.warmup_s": run.warmup_s}

    # spans (traced jobs)
    own = self_times(tracer.spans)
    per_job: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        per_job[s["job"]][s["name"]] += s["end"] - s["start"]
        per_job[s["job"]]["@" + layer_of(s["name"])] += own[s["id"]]
    for metric, names in SPAN_METRICS:
        out[metric] = median(sum(per_job[i][n] for n in names) for i in per_job)
    out["functions.clean_s"] = median(per_job[i]["@functions"] for i in per_job)
    out["operators.self_s"] = median(per_job[i]["@operators"] for i in per_job)

    # counters recorded by the legs (traced jobs count rows at boundaries)
    def counted(key, jobs=untraced):
        return median(j["counts"].get(key, 0) for j in jobs)

    out["operators.dedup_keep_ratio"] = _ratio(counted("dedup_out", traced),
                                               counted("dedup_in", traced))
    out["plans.build_ms"] = counted("build_s") * 1000.0
    out["sinks.rows_written"] = counted("sink_rows")
    out["sinks.bytes_per_row"] = _ratio(counted("sink_bytes"), counted("sink_attempted"))
    out["sinks.batches"] = counted("sink_batches")
    out["sinks.success_rate"] = _ratio(counted("upload_written"), counted("sink_attempted"))
    out["ext.docs_kept_ratio"] = _ratio(counted("docs_kept"), run.sizes.get("documents", 0))
    out["ext.near_dup_pairs"] = counted("near_dup_pairs")

    # engine counters (event log, untraced jobs)
    sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    spark_jobs: dict[int, set] = defaultdict(set)
    first_launch: dict[int, float] = {}
    for t in events.tasks:
        tag = events.tagged(t)
        if tag["phase"] == "untraced" and tag["job"] is not None:
            acc = sums[tag["job"]]
            for k in ("run_ms", "cpu_ns", "gc_ms", "bytes_read", "rows_read",
                      "shuffle_read", "shuffle_write", "spill"):
                acc[k] += t[k]
            acc["tasks"] += 1
            acc["failed"] += t["failed"]
            spark_jobs[tag["job"]].add(t["job"])
        if tag["span"] is not None and t["launch_ms"] is not None:
            first_launch[tag["span"]] = min(first_launch.get(tag["span"], t["launch_ms"]),
                                            t["launch_ms"])
    ids = [i for i, j in by_index.items() if j["phase"] == "untraced"]

    def engine(key, scale=1.0):
        return median(sums[i][key] * scale for i in ids)

    out["sources.rows_read"] = engine("rows_read")
    out["sources.bytes_read"] = engine("bytes_read")
    out["operators.shuffle_write_bytes"] = engine("shuffle_write")
    out["operators.shuffle_read_bytes"] = engine("shuffle_read")
    out["operators.spill_bytes"] = engine("spill")
    out["plans.jobs_per_job"] = median(len(spark_jobs[i]) for i in ids)
    out["exec.task_run_s"] = engine("run_ms", 1e-3)
    out["exec.task_cpu_s"] = engine("cpu_ns", 1e-9)
    out["exec.gc_s"] = engine("gc_ms", 1e-3)
    out["exec.tasks"] = engine("tasks")
    out["exec.failed_tasks"] = engine("failed")
    out["exec.cpu_util"] = median(
        _ratio(sums[i]["cpu_ns"] * 1e-9, by_index[i]["s"] * run.cores) for i in ids)

    # action to first task: leaf spans that ran Spark tasks (traced jobs)
    parents = {s["parent"] for s in tracer.spans}
    out["plans.first_task_wait_ms"] = median(
        first_launch[s["id"]] - s["wall_start_ms"] for s in tracer.spans
        if s["id"] in first_launch and s["id"] not in parents)

    # streaming listener (every job after set-up)
    prog = streams.progress
    n_jobs = max(1, len(run.jobs))
    dur = [p["duration"] for p in prog]
    out["streaming.batches"] = len(prog) / n_jobs
    out["streaming.batch_ms"] = median(d.get("triggerExecution", 0) for d in dur)
    out["streaming.plan_ms"] = median(d.get("queryPlanning", 0) for d in dur)
    out["streaming.commit_ms"] = median(d.get("commitOffsets", 0) + d.get("walCommit", 0)
                                        for d in dur)
    out["streaming.state_rows"] = max((p["state_rows"] for p in prog), default=0)
    out["streaming.state_bytes"] = max((p["state_bytes"] for p in prog), default=0)
    out["streaming.late_rows_dropped"] = sum(p["late_rows"] for p in prog) / n_jobs

    out["trace.overhead_ratio"] = _ratio(median(j["s"] for j in traced),
                                         median(j["s"] for j in untraced))
    return {k: float(out[k]) for k in UNITS if k in out}
