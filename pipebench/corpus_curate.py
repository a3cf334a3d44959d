"""Workload ``corpus_curate``: LLM-corpus curation passes.

Set-up stages one seeded corpus (see ``gen.CORPUS_PARAMS``: exact-dup
variants, one-token-edit near-dup families, shared boilerplate
passages, repeated-trigram docs, non-English docs, eval-contaminated
docs, junk) and computes the expected output with ``reference.curate``.
One op is one ``prepare_training_corpus`` pass
with exact connected components, passage dedup, the repetition gate
and decontamination; it ends when ``clean`` is committed as Parquet and
``stats`` is collected. The check reads the committed files with
pyarrow and compares the survivor set, every surviving text, the
``counts`` dict and the stats row with the reference.

The traced run also times the layers whose work Spark fuses into the
pass's later actions alone, each on the staged input through the noop
sink.
"""

from __future__ import annotations

import os
import time

import gen
import reference
from reference import expect

PASSAGE_K = reference.PASSAGE_K
MAX_DUP_NGRAM_RATIO = reference.MAX_DUP_NGRAM_RATIO
JACCARD = reference.JACCARD_THRESHOLD
LSH_BOUND = 1e-4


class CorpusCurate:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        d = os.path.join(work, "data")
        self.p = {k: os.path.join(d, k) for k in ("docs", "eval", "clean")}
        self.alone_s: dict[str, float] = {}
        self.lsh: dict[str, int] = {}

    def setup(self, conf: dict):
        from serverless_data_pipeline_spark import session

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = session.get_spark(app_name="pipebench-corpus_curate",
                                       shuffle_partitions=cores,
                                       extra_conf=conf)
        for k in ("docs", "eval"):
            os.makedirs(self.p[k])
        self.corpus = gen.write_corpus(self.seed,
                                       self.p["docs"] + "/docs.parquet",
                                       self.p["eval"] + "/eval.parquet")
        self.truth = reference.curate(self.corpus.docs,
                                      self.corpus.eval_docs)
        if self.truth["pairs_in_gap"] or \
                self.truth["lsh_error_bound"] >= LSH_BOUND:
            raise RuntimeError(
                f"generator broke its LSH margin: bound "
                f"{self.truth['lsh_error_bound']:.2e}, pairs "
                f"{self.truth['pairs_in_gap'][:5]}")
        return self.spark

    def op(self, runner, n: int) -> None:
        from serverless_data_pipeline_spark.plans import corpus_pipeline
        from serverless_data_pipeline_spark.sources import readers

        with runner.op("curate"):
            docs = readers.read_parquet(self.spark, self.p["docs"])
            evals = readers.read_parquet(self.spark, self.p["eval"])
            res = corpus_pipeline.prepare_training_corpus(
                docs, exact_clusters=True, jaccard_threshold=JACCARD,
                passage_k=PASSAGE_K,
                max_dup_ngram_ratio=MAX_DUP_NGRAM_RATIO, eval_docs=evals)
            with runner.action("corpus_pipeline.prepare_training_corpus"):
                res.clean.write.mode("overwrite").parquet(self.p["clean"])
            with runner.action("text.token_stats"):
                stats = res.stats.collect()
            res.unpersist()
        self._check(res.counts, stats)

    def _check(self, counts: dict, stats: list) -> None:
        import pyarrow.parquet as pq

        t = self.truth
        expect(counts == t["counts"], f"counts {counts} != {t['counts']}")
        clean = pq.read_table(self.p["clean"]).to_pydict()
        got = dict(zip(clean["doc_id"], clean["text"]))
        expect(got.keys() == t["clean"].keys(),
               f"survivors: {len(got)} vs {len(t['clean'])}, "
               f"extra {sorted(got.keys() - t['clean'].keys())[:5]}, "
               f"missing {sorted(t['clean'].keys() - got.keys())[:5]}")
        expect(got == t["clean"], "surviving texts differ")
        expect(len(stats) == 1, f"stats rows {len(stats)}")
        s, want = stats[0].asDict(), t["stats"]
        for k in ("n_docs", "total_tokens", "total_bpe_tokens", "vocab"):
            expect(s[k] == want[k], f"stats {k}: {s[k]} != {want[k]}")
        expect(abs(s["avg_tokens"] - want["avg_tokens"]) <= 1e-4,
               f"stats avg_tokens {s['avg_tokens']}")

    def alone(self, runner) -> None:
        """Time each fused layer on its own over the staged input."""
        from pyspark.sql import functions as F

        from serverless_data_pipeline_spark.operators import (
            corpus, dedup, text)
        from serverless_data_pipeline_spark.sources import readers

        docs = readers.read_parquet(self.spark, self.p["docs"])
        evals = readers.read_parquet(self.spark, self.p["eval"])
        builds = {
            "text.fingerprint_documents":
                lambda: text.fingerprint_documents(docs, "doc_id", "text"),
            "text.language_id": lambda: text.language_id(docs, "text"),
            "text.token_stats": lambda: text.token_stats(
                docs.withColumn("lang", F.lit("corpus")), "text"),
            "dedup.minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", jaccard_threshold=JACCARD),
            "corpus.passage_dedup": lambda: corpus.passage_dedup(
                docs, "doc_id", "text", k=PASSAGE_K),
            "corpus.decontaminate": lambda: corpus.decontaminate(
                docs, evals, "doc_id", "text"),
        }
        for name, build in builds.items():
            with runner.step("alone", layer=name):
                t0 = time.perf_counter()
                df = build()
                with runner.action(name):
                    df.write.mode("overwrite").format("noop").save()
                self.alone_s[name] = time.perf_counter() - t0
        with runner.step("alone", layer="dedup.lsh_candidates"):
            # threshold 0 keeps every band collision: the candidate count
            self.lsh["candidates"] = dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", jaccard_threshold=0.0).count()
            self.lsh["verified"] = dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", jaccard_threshold=JACCARD).count()

    def stored_bytes_per_input_byte(self) -> float:
        size = sum(os.path.getsize(os.path.join(self.p["clean"], f))
                   for f in os.listdir(self.p["clean"])
                   if not f.startswith(("_", ".")))
        return size / self.corpus.raw_bytes
