"""Tests of the benchmark itself.

Fast tests need no Spark: the corpus reference against the planted
structure, the corpus check against a perturbed expectation, the event
log parser and the self-time arithmetic. The Spark tests run each
workload end to end at its smallest run and perturb an expected value
of the lake workload.

    python3 -m pytest pipebench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import corpus_curate  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402
import tracing  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ no Spark

@pytest.mark.parametrize("seed", [1, 2, 3])
def test_reference_removes_each_planted_kind(tmp_path, seed):
    c = gen.write_corpus(seed, str(tmp_path / "d.parquet"),
                         str(tmp_path / "e.parquet"))
    t = reference.curate(c.docs, c.eval_docs)
    assert t["pairs_in_gap"] == []
    assert t["lsh_error_bound"] < 1e-4
    clean = t["clean"]
    for kind in ("repeated_trigram", "non_english", "contaminated", "junk"):
        assert not set(c.planted[kind]) & clean.keys(), kind
    counts = t["counts"]
    assert counts["input"] - counts["after_exact_dedup"] == len(
        c.planted["exact_variant"])
    assert counts["after_exact_dedup"] - counts["after_near_dedup"] == len(
        c.planted["family_member"])
    # every surviving boilerplate passage occurs once in the output
    passages = [c.docs[i] for i in c.planted["boilerplate_only"]]
    text = "\n".join(clean.values())
    assert all(text.count(p) <= 1 for p in passages)
    assert counts["clean"] == len(clean) > 250


def test_corpus_check_fails_on_perturbed_truth(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    wl = corpus_curate.CorpusCurate(1, str(tmp_path))
    c = gen.write_corpus(1, str(tmp_path / "d.parquet"),
                         str(tmp_path / "e.parquet"))
    wl.truth = reference.curate(c.docs, c.eval_docs)
    os.makedirs(wl.p["clean"])
    ids = sorted(wl.truth["clean"])
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": [wl.truth["clean"][i] for i in ids]}),
                   os.path.join(wl.p["clean"], "part-0.parquet"))
    s = wl.truth["stats"]
    stats = [Row(corpus="corpus", n_docs=s["n_docs"],
                 total_tokens=s["total_tokens"],
                 total_bpe_tokens=s["total_bpe_tokens"],
                 avg_tokens=round(s["avg_tokens"], 4), vocab=s["vocab"])]
    counts = dict(wl.truth["counts"])
    wl._check(counts, stats)                      # the truth itself passes
    with pytest.raises(reference.CheckFailed):
        wl._check({**counts, "clean": counts["clean"] + 1}, stats)
    wl.truth["clean"][ids[0]] += " x"
    with pytest.raises(reference.CheckFailed):
        wl._check(counts, stats)


def test_eventlog_parser(tmp_path):
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 0,
         "description": "pb#3 op", "time": 1000,
         "sparkPlanInfo": {"nodeName": "Filter", "metrics": [
             {"name": "number of output rows", "accumulatorId": 5}],
             "children": [{"nodeName": "Scan", "children": [], "metrics": [
                 {"name": "number of output rows", "accumulatorId": 6},
                 {"name": "number of files read", "accumulatorId": 7},
                 {"name": "size of files read", "accumulatorId": 8}]}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.job.description": "pb#3 op",
                        "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 5, "Update": 40},
                                        {"ID": 6, "Update": 160}]},
         "Task Metrics": {"Executor Run Time": 1500,
                          "Executor CPU Time": 10 ** 9, "JVM GC Time": 20,
                          "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 6,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 9},
                          "Input Metrics": {"Bytes Read": 100}}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[7, 3], [8, 4096]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2500},
    ]
    (tmp_path / "app").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    jobs, execs = eventlog.parse(str(tmp_path))
    (job,), (ex,) = jobs, execs
    assert (job.description, job.start_s, job.end_s) == ("pb#3 op", 1.0, 2.5)
    assert job.metrics == {"tasks": 1, "executor_run_s": 1.5,
                           "executor_cpu_s": 1.0, "gc_s": 0.02,
                           "shuffle_read_bytes": 3, "shuffle_write_bytes": 9,
                           "spill_bytes": 11, "input_bytes": 100}
    assert ex.metrics == {"files_read": 3, "bytes_read": 4096,
                          "filter_rows": 40}


def test_self_times_cover_the_root_exactly():
    spans = [
        {"id": 0, "name": "op:x", "parent": None, "op": 0,
         "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "op": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "b", "parent": 1, "op": 0, "start": 2.0, "end": 3.0},
        {"id": 3, "name": "c", "parent": 0, "op": 0, "start": 6.0, "end": 9.5},
    ]
    selfs = tracing.self_times(spans)
    assert selfs == {0: 2.5, 1: 3.0, 2: 1.0, 3: 3.5}
    assert sum(selfs.values()) == pytest.approx(10.0)
    assert [s["id"] for s in tracing.subtree(spans, 1)] == [1, 2]


# ------------------------------------------------------------ Spark

def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "pipebench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["etl_lake", "corpus_curate"])
def test_workload_runs_green(workload):
    r = _run(workload, 0)
    assert (r["correct"], r["failed"]) == (True, 0) and r["attempted"] >= 1
    assert set(r["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(v["value"] > 0 for v in r["metrics"].values())


def test_traced_self_times_cover_op_wall():
    r = _run("corpus_curate", 1)
    assert (r["correct"], r["failed"]) == (True, 0)
    assert set(r["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    with open(os.path.join(ROOT, ".pipebench_out",
                           "corpus_curate-seed5-trace1.json")) as fh:
        spans = json.load(fh)["spans"]
    selfs = tracing.self_times(spans)
    assert min(selfs.values()) >= -1e-6
    for root in (s for s in spans if s["name"].startswith("op:")):
        tree = tracing.subtree(spans, root["id"])
        wall = root["end"] - root["start"]
        assert sum(selfs[s["id"]] for s in tree) == pytest.approx(wall)
        glue = sum(selfs[s["id"]] for s in tree
                   if s["name"].startswith(("op:", "step:")))
        assert glue / wall <= 0.1
    assert r["metrics"]["trace.self_coverage"]["value"] >= 0.9


def test_lake_check_fails_on_perturbed_truth(tmp_path):
    import etl_lake
    import host
    from run import Runner

    conf = host.fit_host(ROOT, str(tmp_path))
    wl = etl_lake.EtlLake(5, str(tmp_path))
    runner = Runner(None)
    wl.setup(conf)
    try:
        wl.op(runner, 0)                        # unperturbed: passes
        for q in range(len(wl.emb.planted)):
            wl.emb.planted[q] = set()
        with pytest.raises(reference.CheckFailed, match="ivf recall"):
            wl.op(runner, 1)
        land = wl._land

        def off_by_one(*args):
            b = land(*args)
            rid = next(iter(b.valid))
            user, event, amount, hour = b.valid[rid]
            b.valid[rid] = (user, event, amount + 1, hour)
            return b

        wl._land = off_by_one
        with pytest.raises(reference.CheckFailed, match="processed batch"):
            wl.op(runner, 2)
    finally:
        host.stop_spark()
