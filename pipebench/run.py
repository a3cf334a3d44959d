"""Seeded closed-loop benchmark of the PySpark pipeline engine.

    python3 pipebench/run.py --workload etl_lake --seed 1 --seconds 10 --trace 0

One client thread drives the program on ``local[<cores>]`` through its
public functions. Set-up (session start, staging, ground truth) is timed
as ``setup_s``; ops then run back to back from the fresh JVM until their
timed total reaches ``--seconds``. Every op is checked against truth
computed without Spark, outside its timed interval. The last stdout line
is the result JSON; the line before it is the run's stamp.

``--trace 1`` runs the same ops with spans on and the Spark event log
enabled, and reports the per-layer metrics instead of the end-to-end
ones.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".pipebench_work")
OUT_DIR = os.path.join(ROOT, ".pipebench_out")

sys.path.insert(0, HERE)

import host  # noqa: E402

WORKLOADS = {"etl_lake": "etl_lake:EtlLake",
             "corpus_curate": "corpus_curate:CorpusCurate"}


class Runner:
    """Times ops and opens their root spans."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.ops: list[dict] = []
        self._next_op = 0

    @contextmanager
    def op(self, kind: str):
        """Timed interval of one op. The body must leave every check to
        after the ``with`` block."""
        rec = {"kind": kind, "id": self._next_op}
        self._next_op += 1
        if self.tracer is not None:
            self.tracer.op_id = rec["id"]
        cpu0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        span = (self.tracer.span(f"op:{kind}") if self.tracer is not None
                else _null())
        try:
            with span:
                yield rec
        finally:
            # an op that raised is still recorded: metrics cover every
            # attempted op
            rec["seconds"] = time.perf_counter() - t0
            rec["cpu_s"] = host.tree_cpu_s() - cpu0
            if self.tracer is not None:
                self.tracer.op_id = None
            self.ops.append(rec)

    def step(self, name: str, **attrs):
        """A named part of an op (benchmark glue, not a program layer)."""
        if self.tracer is None:
            return _null()
        return self.tracer.span(f"step:{name}", **attrs)

    def action(self, materializes: str | None = None):
        """An engine action the benchmark issues on a lazy frame the
        program returned; ``materializes`` names the layer whose plan it
        runs."""
        if self.tracer is None:
            return _null()
        return self.tracer.span("spark.action", materializes=materializes)


@contextmanager
def _null():
    yield None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)


def _run(args, work: str) -> dict:
    conf = host.fit_host(ROOT, work)
    tracer = None
    if args.trace:
        from tracing import Tracer
        tracer = Tracer()
        tracer.install()
        tracer.enabled = True
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        # one plain, uncompressed log file (Spark 4 rolls by default)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    module, cls = WORKLOADS[args.workload].split(":")
    wl = getattr(importlib.import_module(module), cls)(args.seed, work)
    runner = Runner(tracer)
    stamp = host.stamp(ROOT)
    failed, attempted, errors = 0, 0, []
    with host.RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            spark = wl.setup(conf)
            setup_s = time.perf_counter() - t0
            if tracer is not None:
                tracer.bind_spark(spark)
            n, done = 0, 0.0
            while n == 0 or done < args.seconds:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    wl.op(runner, n)
                except Exception as exc:  # an op that raised counts as failed
                    failed += 1
                    errors.append(f"op {n}: {type(exc).__name__}: {exc}")
                    traceback.print_exc(file=sys.stderr)
                n += 1
                done += time.perf_counter() - t0
            if tracer is not None:
                wl.alone(runner)
                tracer.enabled = False
            stored = wl.stored_bytes_per_input_byte()
        finally:
            host.stop_spark()
    ops = runner.ops
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": {}}
    if tracer is None:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": median([o["seconds"] for o in ops]),
                         "unit": "s"},
            "cpu_s_per_op": {"value": sum(o["cpu_s"] for o in ops)
                             / max(1, len(ops)), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2 ** 20, "unit": "MB"},
            "stored_bytes_per_input_byte": {"value": stored,
                                            "unit": "ratio"},
        }
    else:
        import layers
        result["metrics"] = layers.per_layer(
            tracer, os.path.join(work, "eventlog"), runner.ops, wl)
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{int(args.trace)}"
    with open(os.path.join(OUT_DIR, tag + ".json"), "w") as fh:
        json.dump({"stamp": stamp, "result": result, "errors": errors,
                   "ops": runner.ops,
                   "spans": [_span_record(s) for s in tracer.spans]
                   if tracer is not None else None}, fh)
    print(json.dumps({"stamp": stamp, "errors": errors[:5]}))
    return result


def _span_record(s: dict) -> dict:
    """A span as written out: its attributed jobs reduced to ids."""
    out = {k: v for k, v in s.items() if k not in ("jobs", "execs")}
    out["jobs"] = [j.job_id for j in s.get("jobs", [])]
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
