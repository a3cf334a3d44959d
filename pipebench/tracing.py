"""Spans around calls into the program's layers.

The tracer rebinds the public functions each layer exports -- every
module attribute of the program that is bound to the function, so both
``module.fn`` callers and ``from module import fn`` callers go through
the span. A span records name, start, end, parent and the op id shared
by every span of one op; its id is written into the Spark job
description, so each job in the event log names the span that started
it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

PKG = "serverless_data_pipeline_spark"
DESC_PREFIX = "pb#"

# (module, attribute, span name). A dotted attribute names a method.
LAYER_FUNCTIONS = (
    ("session", "get_spark", "session.get_spark"),
    ("sources.readers", "read_json_raw", "readers.read_json_raw"),
    ("sources.readers", "split_corrupt", "readers.split_corrupt"),
    ("sources.readers", "read_parquet", "readers.read_parquet"),
    ("sources.writers", "write_partitioned_parquet",
     "writers.write_partitioned_parquet"),
    ("sources.writers", "write_archive", "writers.write_archive"),
    ("sources.writers", "write_quarantine", "writers.write_quarantine"),
    ("sources.writers", "overwrite_partitions",
     "writers.overwrite_partitions"),
    ("operators.stages", "ingest", "stages.ingest"),
    ("operators.stages", "validate", "stages.validate"),
    ("operators.stages", "transform", "stages.transform"),
    ("operators.stages", "quality_score", "stages.quality_score"),
    ("plans.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("plans.state", "StateTable.append", "state.append"),
    ("plans.state", "StateTable.history", "state.history"),
    ("plans.control", "PipelineControl.get_pipeline",
     "control.get_pipeline"),
    ("operators.relational", "dedupe_latest", "relational.dedupe_latest"),
    ("operators.relational", "top_k_per_group",
     "relational.top_k_per_group"),
    ("operators.relational", "asof_join", "relational.asof_join"),
    ("operators.similarity", "train_ivf_centroids",
     "similarity.train_ivf_centroids"),
    ("operators.similarity", "ivf_topk", "similarity.ivf_topk"),
    ("operators.text", "fingerprint_documents",
     "text.fingerprint_documents"),
    ("operators.text", "language_id", "text.language_id"),
    ("operators.text", "token_stats", "text.token_stats"),
    ("functions.text", "quality_score_expr", "text.quality_score_expr"),
    ("operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("operators.dedup", "dedupe_by_components",
     "dedup.dedupe_by_components"),
    ("operators.corpus", "passage_dedup", "corpus.passage_dedup"),
    ("operators.corpus", "decontaminate", "corpus.decontaminate"),
    ("plans.corpus_pipeline", "prepare_training_corpus",
     "corpus_pipeline.prepare_training_corpus"),
)


class Tracer:
    """Span recorder. Disabled spans cost one attribute check."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: int | None = None
        self.cost: dict = {}
        self._stack: list[dict] = []
        self._sc = None

    def bind_spark(self, spark) -> None:
        self._sc = spark.sparkContext

    def _describe(self) -> None:
        if self._sc is None:
            return
        top = self._stack[-1] if self._stack else None
        self._sc.setJobDescription(
            f"{DESC_PREFIX}{top['id']} {top['name']}" if top else None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self.op_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self._describe()
        self._charge(time.perf_counter() - t0)
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._describe()
            rec["end"] = time.time()
            self._charge(time.perf_counter() - t1)

    def _charge(self, seconds: float) -> None:
        """Bookkeeping time the spans themselves add, per op id."""
        self.cost[self.op_id] = self.cost.get(self.op_id, 0.0) + seconds

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Rebind every layer function wherever the program binds it.
        All layer modules are imported first, so a ``from x import fn``
        binding made at import time is found and rebound too."""
        mods = {m: importlib.import_module(f"{PKG}.{m}")
                for m, _, _ in LAYER_FUNCTIONS}
        for mod_name, attr, name in LAYER_FUNCTIONS:
            mod = mods[mod_name]
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                setattr(owner, meth, self._wrap(getattr(owner, meth), name))
                continue
            fn = getattr(mod, attr)
            wrapped = self._wrap(fn, name)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith(PKG):
                    continue
                for key, val in list(vars(m).items()):
                    if val is fn:
                        setattr(m, key, wrapped)


# ------------------------------------------------------------ analysis

def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
            for s in spans}


def attribute_jobs(spans: list[dict], jobs: list, executions: list) -> None:
    """Attach event-log jobs and SQL executions to spans: by the span id
    in the job description, else (no description, e.g. a job started on
    another thread) to the innermost span open at submission."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["jobs"], s["execs"] = [], []

    def owner(desc, t):
        if desc and desc.startswith(DESC_PREFIX):
            sid = int(desc[len(DESC_PREFIX):].split(" ", 1)[0])
            if sid in by_id:
                return by_id[sid]
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return best

    for j in jobs:
        s = owner(j.description, j.start_s)
        if s is not None:
            s["jobs"].append(j)
    for e in executions:
        s = owner(e.description, e.start_s)
        if s is not None:
            s["execs"].append(e)


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    by_id = {s["id"]: s for s in spans}
    while todo:
        s = by_id[todo.pop()]
        out.append(s)
        todo.extend(k["id"] for k in kids.get(s["id"], []))
    return out
