"""Seeded input generators with recorded ground truth.

The program only ever sees the files written here; the truth records
stay in the benchmark. Every generator is a pure function of the seed
(and, for batches, the batch number), so the same seed gives the same
bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

EPOCH = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
N_USERS = 400
EVENTS = ("Click", "VIEW", "buy", "Search")
REGIONS = ("emea", "amer", "apac", "latam", "anz", "mena")
PLANS = ("free", "pro", "team")
CORRUPT_RATE = 0.01      # truncated JSON lines
INVALID_RATE = 0.02      # rows with a null ts: fail validation
REF_NULL_RATE = 0.05     # nullable column, lowers completeness only
DAY_ROWS = 6_000         # rows per daily batch
PLAN_HOURS = 14 * 24     # time range of the plan changes
EMB_N, EMB_DIM = 4000, 32
EMB_QUERIES, EMB_PLANTED = 8, 10   # queries, planted neighbours each
EMB_NOISE = 0.05


# ------------------------------------------------------------ EP1 batches

@dataclass
class Batch:
    """One landed raw JSON-lines file and what EP1 must make of it."""
    batch_no: int
    path: str
    raw_bytes: int
    # id -> (user, event, amount, hour) after trim + lowercase
    valid: dict = field(default_factory=dict)
    invalid_ids: set = field(default_factory=set)
    corrupt_lines: list = field(default_factory=list)

    @property
    def amount_sum(self) -> Decimal:
        return sum((v[2] for v in self.valid.values()), Decimal("0.00"))


def _fmt_cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def write_batch(seed: int, batch_no: int, path: str) -> Batch:
    """Batch ``batch_no`` (from 1) covers day ``batch_no - 1`` after
    EPOCH; rows cycle through its 24 hours (offsets from EPOCH). Ids are
    unique across batches: batch_no * 10^7 + row."""
    hours = range(24 * (batch_no - 1), 24 * batch_no)
    rng = random.Random(f"etl:{seed}:{batch_no}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    batch = Batch(batch_no, path, 0)
    with open(path, "w", encoding="utf-8") as fh:
        for j in range(DAY_ROWS):
            rid = batch_no * 10_000_000 + j
            hour = hours[j % len(hours)]
            ts = EPOCH + dt.timedelta(hours=hour,
                                      seconds=rng.randrange(3600))
            u = rng.randrange(N_USERS)
            user = (" " * rng.randrange(3) + rng.choice(("User", "USER", "user"))
                    + str(u) + " " * rng.randrange(3))
            event = rng.choice(EVENTS)
            cents = rng.randrange(1_000_000)
            ref = None if rng.random() < REF_NULL_RATE else f"R{rng.randrange(99)}"
            invalid = rng.random() < INVALID_RATE
            ts_txt = "null" if invalid else json.dumps(
                ts.strftime("%Y-%m-%dT%H:%M:%SZ"))
            line = (f'{{"id": {rid}, "ts": {ts_txt}, '
                    f'"user": {json.dumps(user)}, "event": "{event}", '
                    f'"amount": {_fmt_cents(cents)}, '
                    f'"ref": {json.dumps(ref)}}}')
            if rng.random() < CORRUPT_RATE:
                # cut after the id, so every truncated line stays unique
                line = line[:rng.randrange(len(f'{{"id": {rid},'),
                                           len(line) - 2)]
                batch.corrupt_lines.append(line)
            elif invalid:
                batch.invalid_ids.add(rid)
            else:
                batch.valid[rid] = (f"user{u}", event.lower(),
                                    Decimal(_fmt_cents(cents)),
                                    hour)
            fh.write(line + "\n")
    batch.raw_bytes = os.path.getsize(path)
    return batch


# ------------------------------------------------------------ lake side

def write_users(seed: int, path: str) -> None:
    """User dimension for the star join: user -> region."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"users:{seed}")
    users = {f"user{u}": rng.choice(REGIONS) for u in range(N_USERS)}
    pq.write_table(pa.table({"user": list(users),
                             "region": list(users.values())}), path)


def write_plans(seed: int, path: str) -> None:
    """Plan changes for the as-of join: three per user at distinct
    seconds inside the tier's time range."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"plans:{seed}")
    rows = []
    for u in range(N_USERS):
        for sec in sorted(rng.sample(range(PLAN_HOURS * 3600), 3)):
            rows.append((f"user{u}", EPOCH + dt.timedelta(seconds=sec),
                         rng.choice(PLANS)))
    pq.write_table(pa.table({
        "user": [r[0] for r in rows],
        "valid_from": pa.array([r[1] for r in rows], pa.timestamp("us", "UTC")),
        "plan": [r[2] for r in rows]}), path)


@dataclass
class Embeddings:
    queries: np.ndarray            # (n_queries, dim) float32
    planted: list                  # per query: set of 10 vids
    vectors: np.ndarray            # (n, dim) float32, row i = vid ids[i]
    ids: np.ndarray


def write_embeddings(seed: int, path: str) -> Embeddings:
    """Random background vectors plus, per query, ``EMB_PLANTED`` planted
    neighbours (query + small Gaussian noise, cosine ~0.999 to it; the
    background's best cosine to a query is ~0.6)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    queries = rng.standard_normal((EMB_QUERIES, EMB_DIM)).astype(np.float32)
    vecs = rng.standard_normal((EMB_N, EMB_DIM)).astype(np.float32)
    ids = rng.permutation(EMB_N).astype(np.int64) + 1
    planted = []
    for q in range(EMB_QUERIES):
        rows = range(q * EMB_PLANTED, (q + 1) * EMB_PLANTED)
        for r in rows:
            vecs[r] = queries[q] + EMB_NOISE * rng.standard_normal(EMB_DIM)
        planted.append({int(ids[r]) for r in rows})
    pq.write_table(pa.table({
        "vid": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}), path)
    return Embeddings(queries, planted, vecs, ids)


# ------------------------------------------------------------ corpus

EN_MARKERS = ("the", "and", "of", "to", "is")
ES_MARKERS = ("el", "la", "que", "los", "es")
CONS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(CONS) + rng.choice(VOWELS)
                          for _ in range(rng.randrange(2, 4))))
    return sorted(words)


@dataclass
class Corpus:
    docs_path: str
    eval_path: str
    docs: dict            # doc_id -> text
    eval_docs: list       # texts
    planted: dict         # kind -> list of doc ids
    raw_bytes: int


CORPUS_PARAMS = {
    "n_plain": 300,            # plain English docs, 60-160 tokens
    "n_families": 15,          # near-dup families (base 200-260 tokens)
    "n_exact_variants": 15,    # case/whitespace copies of plain docs
    "n_boiler_passages": 3,    # 24-token passages shared by plain docs
    "boiler_rate": 0.35,       # share of long plain docs carrying one
    "n_repeat": 8,             # period-5 repeated-trigram docs
    "n_spanish": 12,           # non-English docs
    "n_eval": 6,               # eval docs, 60 tokens
    "n_contaminated": 10,      # docs holding a 13-token eval span
    "n_junk": 5,               # short punctuation-heavy docs
}


def write_corpus(seed: int, docs_path: str, eval_path: str) -> Corpus:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus:{seed}")
    vocab = _vocab(random.Random(f"vocab:{seed}"), 4000)

    def words(n: int, markers=EN_MARKERS, rate=0.15) -> list[str]:
        return [rng.choice(markers) if rng.random() < rate
                else rng.choice(vocab) for _ in range(n)]

    texts: list[tuple[str, str]] = []   # (kind, text)
    passages = [words(24) for _ in range(CORPUS_PARAMS["n_boiler_passages"])]
    plain = []
    for _ in range(CORPUS_PARAMS["n_plain"]):
        toks = words(rng.randrange(60, 161))
        # only long docs carry a passage: Jaccard to the passage-only doc
        # stays <= 22/122 < 0.2, far from the LSH threshold
        if len(toks) >= 100 and rng.random() < CORPUS_PARAMS["boiler_rate"]:
            at = rng.randrange(len(toks) + 1)
            toks[at:at] = rng.choice(passages)
        plain.append(toks)
        texts.append(("plain", " ".join(toks)))
    for p in passages:
        texts.append(("boilerplate_only", " ".join(p)))
    for _ in range(CORPUS_PARAMS["n_families"]):
        base = words(rng.randrange(200, 261))
        texts.append(("family_base", " ".join(base)))
        for pos in rng.sample(range(5, len(base) - 5),
                              rng.randrange(1, 3)):
            member = list(base)
            while member[pos] == base[pos]:
                member[pos] = rng.choice(vocab)
            texts.append(("family_member", " ".join(member)))
    for toks in rng.sample(plain, CORPUS_PARAMS["n_exact_variants"]):
        var = [t.capitalize() if i % 7 == 0 else t for i, t in enumerate(toks)]
        cut = rng.randrange(1, len(var))
        texts.append(("exact_variant",
                      " ".join(var[:cut]) + "  " + " ".join(var[cut:])))
    for _ in range(CORPUS_PARAMS["n_repeat"]):
        head = ["the"] + rng.sample(vocab, 3)
        uniq = rng.sample(vocab, 20)
        texts.append(("repeated_trigram",
                      " ".join(t for u in uniq for t in (*head, u))))
    for _ in range(CORPUS_PARAMS["n_spanish"]):
        texts.append(("non_english",
                      " ".join(words(rng.randrange(60, 120), ES_MARKERS,
                                     0.2))))
    eval_docs = [" ".join(rng.choice(vocab) for _ in range(60))
                 for _ in range(CORPUS_PARAMS["n_eval"])]
    spans = [(e, off) for e in range(CORPUS_PARAMS["n_eval"])
             for off in (0, 13, 26, 39)]
    for e, off in rng.sample(spans, CORPUS_PARAMS["n_contaminated"]):
        toks = words(rng.randrange(60, 120))
        at = rng.randrange(len(toks) + 1)
        toks[at:at] = eval_docs[e].split(" ")[off:off + 13]
        texts.append(("contaminated", " ".join(toks)))
    for w in rng.sample(vocab, CORPUS_PARAMS["n_junk"]):
        texts.append(("junk", f"the {w} %% ## !!"))

    ids = rng.sample(range(1, 10 * len(texts)), len(texts))
    docs = {i: t for i, (_, t) in zip(ids, texts)}
    planted: dict[str, list] = {}
    for i, (kind, _) in zip(ids, texts):
        planted.setdefault(kind, []).append(i)
    order = sorted(docs)
    pq.write_table(pa.table({"doc_id": pa.array(order, pa.int64()),
                             "text": [docs[i] for i in order]}), docs_path)
    pq.write_table(pa.table({"doc_id": pa.array(range(len(eval_docs)),
                                                pa.int64()),
                             "text": eval_docs}), eval_path)
    return Corpus(docs_path, eval_path, docs, eval_docs, planted,
                  os.path.getsize(docs_path))
