"""Workload ``etl_lake``: the EP1 write path and the Athena-style read
path over the tier the program itself wrote.

Set-up stages a user dimension, plan changes and an embeddings table and
trains the IVF centroids once.

One op is one cycle, run by one client back to back:

1. a daily batch: land a raw JSON-lines file covering 24 hours (about
   1 % truncated lines, 2 % rows without a timestamp),
   ``read_json_raw`` -> ``split_corrupt`` -> ``write_quarantine`` ->
   ``run_pipeline``, which commits 24 hour partitions, then read the
   run's status back through ``PipelineControl.get_pipeline``;
2. an idempotent replay of one of those hours: archive rows ->
   ``stages.transform`` -> ``writers.overwrite_partitions``;
3. seven reads over the tier: a partition-pruned one-day aggregate and
   an aggregate over every partition, ``dedupe_latest``,
   ``top_k_per_group``, ``asof_join`` against the plan changes, a
   broadcast star join with the user dimension, and one ``ivf_topk``
   probe with the pre-trained centroids.

Every part is checked after the cycle against the generator's truth and
DuckDB over the same files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from decimal import Decimal

import numpy as np

import gen
from reference import expect

N_CELLS, N_PROBE, TOP_K = 16, 4, 10
RECALL_BOUND = 0.9


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class EtlLake:
    search_rows = gen.EMB_N     # corpus rows one IVF probe could score

    def __init__(self, seed: int, work: str):
        self.seed = seed
        d = os.path.join(work, "data")
        self.p = {k: os.path.join(d, k) for k in (
            "landing", "processed", "archive", "errors", "quarantine",
            "state", "users", "plans", "emb")}
        self.raw_bytes = 0
        self.hour_amounts: dict[int, list] = {}  # hour -> landed amounts

    # ------------------------------------------------------------ set-up

    def setup(self, conf: dict):
        from pyspark.sql import types as T

        from serverless_data_pipeline_spark import session
        from serverless_data_pipeline_spark.plans import control, state

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = session.get_spark(app_name="pipebench-etl_lake",
                                       shuffle_partitions=cores,
                                       extra_conf=conf)
        self.schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user", T.StringType()),
            T.StructField("event", T.StringType()),
            T.StructField("amount", T.DecimalType(12, 2)),
            T.StructField("ref", T.StringType())])
        self.required = {"id": T.LongType(), "ts": T.TimestampType()}
        self.state = state.StateTable(self.spark, self.p["state"])
        self.control = control.PipelineControl(self.state)
        os.makedirs(self.p["users"])
        os.makedirs(self.p["plans"])
        gen.write_users(self.seed, self.p["users"] + "/u.parquet")
        gen.write_plans(self.seed, self.p["plans"] + "/p.parquet")
        os.makedirs(self.p["emb"])
        self.emb = gen.write_embeddings(self.seed, self.p["emb"] + "/e.parquet")
        self.emb_row = {int(v): i for i, v in enumerate(self.emb.ids)}

        from serverless_data_pipeline_spark.operators import similarity
        from serverless_data_pipeline_spark.sources import readers
        emb = readers.read_parquet(self.spark, self.p["emb"])
        self.centroids = similarity.train_ivf_centroids(
            emb, "embedding", n_cells=N_CELLS, seed=self.seed)
        return self.spark

    def _land(self, batch_no: int) -> gen.Batch:
        path = os.path.join(self.p["landing"], f"b{batch_no:05d}",
                            "part-0.json")
        b = gen.write_batch(self.seed, batch_no, path)
        self.raw_bytes += b.raw_bytes
        for v in b.valid.values():
            self.hour_amounts.setdefault(v[3], []).append(v[2])
        return b

    # ------------------------------------------------------------ op

    def op(self, runner, n: int) -> None:
        from pyspark.sql import functions as F

        from serverless_data_pipeline_spark.operators import (
            relational, similarity, stages)
        from serverless_data_pipeline_spark.sources import readers, writers

        rng = random.Random(f"cycle:{self.seed}:{n}")
        batch = self._land(n + 1)
        replay_hour = 24 * n + rng.randrange(24)
        day = (gen.EPOCH + dt.timedelta(days=n)).date()
        q = rng.randrange(len(self.emb.queries))
        archive_before = set(_list_files(self.p["archive"]))
        spark, tier_path = self.spark, self.p["processed"]
        out: dict = {}

        def tier():
            return readers.read_parquet(spark, tier_path)

        def day_filter(df):
            return df.filter((F.col("year") == day.year)
                             & (F.col("month") == day.month)
                             & (F.col("day") == day.day))

        with runner.op("cycle") as rec:
            with runner.step("batch"):
                out["batch"] = self._ep1(batch)
                if runner.tracer is not None:
                    # the day as the batch committed it, before the replay
                    rec["files_per_batch"], rec["processed_bytes"] = \
                        _dir_stats(self._day_dir(day))
            with runner.step("replay"):
                h0 = gen.EPOCH + dt.timedelta(hours=replay_hour)
                src = readers.read_parquet(spark, self.p["archive"]).filter(
                    (F.col("ts") >= h0)
                    & (F.col("ts") < h0 + dt.timedelta(hours=1)))
                writers.overwrite_partitions(stages.transform(src),
                                             tier_path)
            with runner.step("read", query="agg_day"):
                df = day_filter(tier()).groupBy("event").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"))
                with runner.action():
                    out["agg_day"] = df.collect()
            with runner.step("read", query="agg_all"):
                df = tier().groupBy("month", "day", "event").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"))
                with runner.action():
                    out["agg_all"] = df.collect()
            with runner.step("read", query="dedupe_latest"):
                df = relational.dedupe_latest(
                    day_filter(tier()), ["user"],
                    [F.col("ts").desc(), F.col("id").desc()])
                with runner.action("relational.dedupe_latest"):
                    out["dedupe_latest"] = df.select("user", "id").collect()
            with runner.step("read", query="top_k_per_group"):
                df = relational.top_k_per_group(
                    day_filter(tier()), ["event"],
                    [F.col("amount").desc(), F.col("id")], 5)
                with runner.action("relational.top_k_per_group"):
                    out["top_k_per_group"] = df.select(
                        "event", "id", "rnk").collect()
            with runner.step("read", query="asof_join"):
                plans = readers.read_parquet(spark, self.p["plans"])
                df = relational.asof_join(
                    day_filter(tier()).select("id", "user", "ts"),
                    plans, ["user"], "ts", "valid_from", ["plan"])
                with runner.action("relational.asof_join"):
                    out["asof_join"] = df.groupBy("plan").count().collect()
            with runner.step("read", query="star_join"):
                users = readers.read_parquet(spark, self.p["users"])
                df = (tier().join(F.broadcast(users), "user")
                      .groupBy("region").agg(F.count(F.lit(1)).alias("n"),
                                             F.sum("amount").alias("s")))
                with runner.action():
                    out["star_join"] = df.collect()
            with runner.step("read", query="ivf_topk"):
                emb = readers.read_parquet(spark, self.p["emb"])
                df = similarity.ivf_topk(
                    emb, "vid", "embedding",
                    self.emb.queries[q].astype(float).tolist(), k=TOP_K,
                    n_probe=N_PROBE, centroids=self.centroids)
                with runner.action("similarity.ivf_topk"):
                    out["ivf_topk"] = df.collect()
        self._check_batch(batch, out["batch"])
        self._check_replay(replay_hour)
        self._check_reads(out, day, q)
        new_archive = set(_list_files(self.p["archive"])) - archive_before
        rec["archive_bytes"] = sum(os.path.getsize(f) for f in new_archive)
        rec["raw_bytes"] = batch.raw_bytes

    def _ep1(self, batch: gen.Batch) -> dict:
        from serverless_data_pipeline_spark.plans import pipeline
        from serverless_data_pipeline_spark.sources import readers, writers

        raw = readers.read_json_raw(self.spark, os.path.dirname(batch.path),
                                    self.schema)
        good, bad = readers.split_corrupt(raw)
        writers.write_quarantine(bad, self.p["quarantine"], "corrupt_json")
        res = pipeline.run_pipeline(
            good, processed_path=self.p["processed"],
            archive_path=self.p["archive"], error_path=self.p["errors"],
            state=self.state, required=self.required)
        raw.unpersist()
        history = self.control.get_pipeline(res.pipeline_id)
        return {"result": res, "history": history}

    # ------------------------------------------------------------ checks

    def _duck(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(
            "CREATE VIEW tier AS SELECT * FROM read_parquet("
            f"'{self.p['processed']}/**/*.parquet', hive_partitioning=true)")
        return con

    def _check_batch(self, b: gen.Batch, out: dict) -> None:
        res, history = out["result"], out["history"]
        n_valid = len(b.valid)
        expect(res.status == "SUCCEEDED", f"batch {b.batch_no}: {res.status}")
        expect(res.counts == {"processed": n_valid,
                              "invalid": len(b.invalid_ids)},
               f"batch {b.batch_no} counts {res.counts}")
        expect((history[-1]["stage"], history[-1]["status"])
               == ("sink", "SUCCEEDED"), "control: last state row")
        lo, hi = b.batch_no * 10_000_000, (b.batch_no + 1) * 10_000_000
        con = self._duck()
        try:
            last = con.execute(
                "SELECT stage, status FROM read_parquet("
                f"'{self.p['state']}/*.parquet') WHERE pipeline_id = ? "
                "ORDER BY timestamp DESC LIMIT 1",
                [res.pipeline_id]).fetchall()
            expect(last == [("sink", "SUCCEEDED")], f"state rows {last}")
            n, s = con.execute(
                "SELECT count(*), sum(amount) FROM tier "
                "WHERE id >= ? AND id < ?", [lo, hi]).fetchone()
            expect(n == n_valid and (s or Decimal(0)) == b.amount_sum,
                   f"processed batch {b.batch_no}: {n} rows sum {s}")
            got = {r[0]: r[1:] for r in con.execute(
                "SELECT id, \"user\", event, amount, "
                "(epoch(ts)::BIGINT - ?) // 3600, "
                "(year * 100 + month) * 100 + day, hour, "
                "(year(ts) * 100 + month(ts)) * 100 + day(ts), hour(ts) "
                "FROM tier WHERE id >= ? AND id < ?",
                [int(gen.EPOCH.timestamp()), lo, hi]).fetchall()}
            for rid, (user, event, amount, hour) in b.valid.items():
                g = got.get(rid)
                expect(g is not None and g[:4] == (user, event, amount, hour)
                       and g[4:6] == g[6:8],
                       f"processed row {rid}: {g}")
            n_arch = con.execute(
                "SELECT count(*) FROM read_parquet("
                f"'{self.p['archive']}/*.parquet') WHERE id >= ? AND id < ?",
                [lo, hi]).fetchone()[0]
            expect(n_arch == n_valid, f"archive rows {n_arch}")
            bad_ids = set()
            if b.invalid_ids:
                bad_ids = {r[0] for r in con.execute(
                    "SELECT id FROM read_json_auto("
                    f"'{self.p['errors']}/*.json', union_by_name=true) "
                    "WHERE id >= ? AND id < ?", [lo, hi]).fetchall()}
            expect(bad_ids == b.invalid_ids,
                   f"quarantined invalid ids {len(bad_ids)}")
            corrupt = [r[0] for r in con.execute(
                "SELECT _corrupt_record FROM read_json_auto("
                f"'{self.p['quarantine']}/*.json', union_by_name=true)"
            ).fetchall()] if b.corrupt_lines else []
            expect(all(corrupt.count(line) == 1 for line in b.corrupt_lines),
                   "quarantined corrupt lines")
        finally:
            con.close()

    def _check_replay(self, hour: int) -> None:
        want = self.hour_amounts.get(hour, [])
        h0 = gen.EPOCH + dt.timedelta(hours=hour)
        con = self._duck()
        try:
            n, nd, s = con.execute(
                "SELECT count(*), count(DISTINCT id), sum(amount) FROM tier "
                "WHERE year = ? AND month = ? AND day = ? AND hour = ?",
                [h0.year, h0.month, h0.day, h0.hour]).fetchone()
        finally:
            con.close()
        expect(n == nd == len(want)
               and (s or Decimal(0)) == sum(want, Decimal("0.00")),
               f"replayed hour {hour}: {n} rows")

    def _check_reads(self, out: dict, day: dt.date, q: int) -> None:
        con = self._duck()
        try:
            con.execute("CREATE VIEW plans AS SELECT \"user\", "
                        "valid_from::TIMESTAMP AS valid_from, plan FROM "
                        f"read_parquet('{self.p['plans']}/*.parquet')")
            con.execute("CREATE VIEW users AS SELECT * FROM "
                        f"read_parquet('{self.p['users']}/*.parquet')")
            d = (f"year = {day.year} AND month = {day.month} "
                 f"AND day = {day.day}")
            sql = {
                "agg_day": f"SELECT event, count(*), sum(amount) FROM tier "
                           f"WHERE {d} GROUP BY 1",
                "agg_all": "SELECT month, day, event, count(*), "
                           "sum(amount) FROM tier GROUP BY 1, 2, 3",
                "dedupe_latest": "SELECT \"user\", id FROM (SELECT \"user\", "
                                 "id, row_number() OVER (PARTITION BY "
                                 "\"user\" ORDER BY ts DESC, id DESC) rn "
                                 f"FROM tier WHERE {d}) WHERE rn = 1",
                "top_k_per_group": "SELECT event, id, rn FROM (SELECT event, "
                                   "id, row_number() OVER (PARTITION BY "
                                   "event ORDER BY amount DESC, id) rn FROM "
                                   f"tier WHERE {d}) WHERE rn <= 5",
                "asof_join": "SELECT p.plan, count(*) FROM (SELECT id, "
                             f"\"user\", ts::TIMESTAMP AS ts FROM tier WHERE "
                             f"{d}) t ASOF LEFT JOIN plans p ON t.\"user\" "
                             "= p.\"user\" AND t.ts >= p.valid_from "
                             "GROUP BY 1",
                "star_join": "SELECT region, count(*), sum(amount) FROM tier "
                             "JOIN users USING (\"user\") GROUP BY 1",
            }
            for name, query in sql.items():
                want = sorted(con.execute(query).fetchall(), key=repr)
                got = sorted((tuple(r) for r in out[name]), key=repr)
                expect(got == want and want,
                       f"{name}: {len(got)} rows vs {len(want)} expected")
        finally:
            con.close()
        hits = out["ivf_topk"]
        ids = [r["vid"] for r in hits]
        recall = len(set(ids) & self.emb.planted[q]) / TOP_K
        expect(len(ids) == TOP_K and recall >= RECALL_BOUND,
               f"ivf recall@10 {recall}")
        vec = self.emb.vectors[[self.emb_row[i] for i in ids]].astype(
            np.float64)
        qv = self.emb.queries[q].astype(np.float64)
        cos = (vec @ qv) / (np.linalg.norm(vec, axis=1) * np.linalg.norm(qv))
        got = [r["cosine"] for r in hits]
        expect(np.allclose(got, cos, atol=2e-6) and got == sorted(
            got, reverse=True), "ivf cosines")

    # ------------------------------------------------------------ counts

    def _day_dir(self, day: dt.date) -> str:
        return os.path.join(self.p["processed"], f"year={day.year}",
                            f"month={day.month}", f"day={day.day}")

    def stored_bytes_per_input_byte(self) -> float:
        stored = sum(_dir_stats(self.p[k])[1] for k in (
            "processed", "archive", "errors", "quarantine", "state"))
        return stored / self.raw_bytes

    def state_files(self) -> int:
        return _dir_stats(self.p["state"])[0]

    def alone(self, runner) -> None:
        """Every layer here runs eagerly or inside its own op."""


def _list_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [os.path.join(path, n) for n in os.listdir(path)
            if not n.startswith(("_", "."))]
