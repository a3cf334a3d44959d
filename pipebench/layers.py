"""Per-layer metrics of a traced run.

Inputs: the tracer's spans, the Spark event log, the runner's op
records and the workload object (benchmark-side file counts and the
alone timings of fused layers). Times are means per call unless the
name says per batch, per query or per op; set-up spans count only for
``session.start_s`` and ``similarity.train_ivf_centroids_s``. A layer
the workload never calls reads 0.
"""

from __future__ import annotations

import eventlog
import tracing

# name -> unit; the order is the order printed.
UNITS = {
    "session.start_s": "s",
    "pipeline.jobs_per_batch": "count",
    "pipeline.self_s": "s",
    "readers.scan_bytes_per_input_byte": "ratio",
    "stages.quality_score_s": "s",
    "writers.partitioned_write_s": "s",
    "writers.archive_write_s": "s",
    "writers.quarantine_write_s": "s",
    "writers.files_per_batch": "count",
    "writers.processed_bytes_per_input_byte": "ratio",
    "writers.archive_bytes_per_input_byte": "ratio",
    "state.append_s": "s",
    "state.appends_per_batch": "count",
    "state.files_at_end": "count",
    "control.get_pipeline_s": "s",
    "readers.files_read_per_query": "count",
    "readers.bytes_read_per_query": "bytes",
    "relational.dedupe_latest_s": "s",
    "relational.top_k_per_group_s": "s",
    "relational.asof_join_s": "s",
    "similarity.ivf_topk_s": "s",
    "similarity.scored_rows_per_search": "ratio",
    "similarity.train_ivf_centroids_s": "s",
    "writers.overwrite_partitions_s": "s",
    "text.fingerprint_documents_s": "s",
    "text.language_id_s": "s",
    "text.token_stats_s": "s",
    "dedup.minhash_lsh_pairs_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_yield": "ratio",
    "dedup.dedupe_by_components_s": "s",
    "dedup.cc_jobs": "count",
    "corpus.passage_dedup_s": "s",
    "corpus.decontaminate_s": "s",
    "corpus_pipeline.count_jobs": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_s_per_op": "s",
    "spark.executor_run_s_per_op": "s",
    "spark.executor_cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "trace.self_coverage": "ratio",
    "trace.overhead_frac": "ratio",
}

# Lazy layers of corpus_curate, timed alone through the noop sink.
ALONE = ("text.fingerprint_documents", "text.language_id",
         "text.token_stats", "dedup.minhash_lsh_pairs",
         "corpus.passage_dedup", "corpus.decontaminate")
# Lazy layers of etl_lake: the call plus the action that runs its plan.
LAZY = ("relational.dedupe_latest", "relational.top_k_per_group",
        "relational.asof_join", "similarity.ivf_topk")


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer, eventlog_dir: str, ops: list[dict], wl) -> dict:
    spans = tracer.spans
    jobs, execs = eventlog.parse(eventlog_dir)
    tracing.attribute_jobs(spans, jobs, execs)
    selfs = tracing.self_times(spans)
    op_ids = {o["id"] for o in ops}
    in_ops = [s for s in spans if s["op"] in op_ids]

    def calls(name: str) -> list[dict]:
        return [s for s in in_ops if s["name"] == name]

    def mean_dur(name: str) -> float:
        xs = calls(name)
        return _div(sum(map(_dur, xs)), len(xs))

    def sub(span: dict) -> list[dict]:
        return tracing.subtree(spans, span["id"])

    def sub_jobs(span: dict) -> list:
        return [j for s in sub(span) for j in s["jobs"]]

    def setup_dur(name: str) -> float:
        xs = [s for s in spans if s["name"] == name and s["op"] is None]
        return _dur(xs[0]) if xs else 0.0

    batches = calls("pipeline.run_pipeline")
    nb = len(batches)
    raw = sum(o.get("raw_bytes", 0) for o in ops)
    reads = calls("step:read")
    roots = [s for s in in_ops if s["name"].startswith("op:")]
    m: dict[str, float] = {}
    m["session.start_s"] = setup_dur("session.get_spark")
    m["pipeline.jobs_per_batch"] = _div(
        sum(len(sub_jobs(s)) for s in batches), nb)
    m["pipeline.self_s"] = _div(sum(selfs[s["id"]] for s in batches), nb)
    m["readers.scan_bytes_per_input_byte"] = _div(
        sum(j.metrics["input_bytes"] for s in calls("step:batch")
            for j in sub_jobs(s)), raw)
    m["stages.quality_score_s"] = mean_dur("stages.quality_score")
    for metric, fn in (("partitioned_write_s", "write_partitioned_parquet"),
                       ("archive_write_s", "write_archive"),
                       ("quarantine_write_s", "write_quarantine")):
        m[f"writers.{metric}"] = _div(
            sum(map(_dur, calls(f"writers.{fn}"))), nb)
    m["writers.files_per_batch"] = _div(
        sum(o.get("files_per_batch", 0) for o in ops), nb)
    m["writers.processed_bytes_per_input_byte"] = _div(
        sum(o.get("processed_bytes", 0) for o in ops), raw)
    m["writers.archive_bytes_per_input_byte"] = _div(
        sum(o.get("archive_bytes", 0) for o in ops), raw)
    m["state.append_s"] = mean_dur("state.append")
    m["state.appends_per_batch"] = _div(len(calls("state.append")), nb)
    m["state.files_at_end"] = wl.state_files() \
        if hasattr(wl, "state_files") else 0
    m["control.get_pipeline_s"] = mean_dur("control.get_pipeline")
    read_execs = [e for s in reads for x in sub(s) for e in x["execs"]]
    m["readers.files_read_per_query"] = _div(
        sum(e.metrics["files_read"] for e in read_execs), len(reads))
    m["readers.bytes_read_per_query"] = _div(
        sum(e.metrics["bytes_read"] for e in read_execs), len(reads))
    for name in LAZY:
        xs = calls(name)
        acts = [s for s in in_ops if s["name"] == "spark.action"
                and s.get("materializes") == name]
        m[f"{name}_s"] = _div(sum(map(_dur, xs + acts)), len(xs))
    # rows the probe's cell filter passed, from the event log
    searches = [s for s in in_ops if s["name"] == "spark.action"
                and s.get("materializes") == "similarity.ivf_topk"]
    scored = sum(e.metrics["filter_rows"] for s in searches
                 for x in sub(s) for e in x["execs"])
    m["similarity.scored_rows_per_search"] = _div(
        scored, len(searches) * getattr(wl, "search_rows", 0))
    m["similarity.train_ivf_centroids_s"] = setup_dur(
        "similarity.train_ivf_centroids")
    m["writers.overwrite_partitions_s"] = mean_dur(
        "writers.overwrite_partitions")
    alone = getattr(wl, "alone_s", {})
    for name in ALONE:
        m[f"{name}_s"] = alone.get(name, 0.0)
    lsh = getattr(wl, "lsh", {})
    m["dedup.lsh_candidates"] = lsh.get("candidates", 0)
    m["dedup.lsh_yield"] = _div(lsh.get("verified", 0),
                                lsh.get("candidates", 0))
    cc = calls("dedup.dedupe_by_components")
    m["dedup.dedupe_by_components_s"] = mean_dur(
        "dedup.dedupe_by_components")
    m["dedup.cc_jobs"] = _div(sum(len(sub_jobs(s)) for s in cc), len(cc))
    prep = calls("corpus_pipeline.prepare_training_corpus")
    m["corpus_pipeline.count_jobs"] = _div(
        sum(len(s["jobs"]) for s in prep), len(prep))

    n = len(roots)
    op_jobs = [sub_jobs(r) for r in roots]
    m["spark.jobs_per_op"] = _div(sum(map(len, op_jobs)), n)
    for key, field in (("tasks_per_op", "tasks"),
                       ("executor_run_s_per_op", "executor_run_s"),
                       ("executor_cpu_s_per_op", "executor_cpu_s"),
                       ("gc_s_per_op", "gc_s"),
                       ("shuffle_write_bytes_per_op", "shuffle_write_bytes"),
                       ("shuffle_read_bytes_per_op", "shuffle_read_bytes"),
                       ("spill_bytes_per_op", "spill_bytes")):
        m[f"spark.{key}"] = _div(
            sum(j.metrics[field] for js in op_jobs for j in js), n)
    driver = 0.0
    for r, js in zip(roots, op_jobs):
        covered = tracing.union_length(
            [(max(j.start_s, r["start"]), min(j.end_s or r["end"], r["end"]))
             for j in js])
        driver += _dur(r) - covered
    m["spark.driver_s_per_op"] = _div(driver, n)
    glue = sum(selfs[s["id"]] for s in in_ops
               if s["name"].startswith(("op:", "step:")))
    wall = sum(map(_dur, roots))
    m["trace.self_coverage"] = 1.0 - _div(glue, wall)
    m["trace.overhead_frac"] = _div(
        sum(tracer.cost.get(i, 0.0) for i in op_ids), wall)
    return {k: {"value": m[k], "unit": u} for k, u in UNITS.items()}
