"""Truth computed without Spark.

The corpus reference re-derives ``prepare_training_corpus``'s documented
semantics in plain Python over the generator's texts: exact dedup by
normalized-text md5, near-dup components over exact 3-gram Jaccard,
stride-1 passage excision, marker language ID, the three-signal quality
score, the duplicate-trigram gate, 5-gram decontamination and the token
statistics. The program's LSH is approximate; ``lsh_error_bound`` gives
the banding formula's probability that it disagrees with the exact
Jaccard graph on this corpus, and the generator keeps every pair's
Jaccard far from the 0.6 threshold so that bound stays below 1e-4.
"""

from __future__ import annotations

import hashlib
import math
import re
from itertools import combinations

JACCARD_THRESHOLD = 0.6
PASSAGE_K = 8                 # passage dedup window, in tokens
MAX_DUP_NGRAM_RATIO = 0.2     # repetition gate
MIN_QUALITY = 0.5             # the pass's default quality gate
DECONTAM_NGRAM = 5            # the pass's default decontamination n-gram
NUM_HASHES, BANDS = 32, 8
ROWS = NUM_HASHES // BANDS
GAP = (0.3, 0.9)       # no pair's Jaccard may fall inside this band
LANG_MARKERS = {
    "de": ("der", "die", "und", "das", "ist"),
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "que", "los", "es"),
    "fr": ("le", "les", "des", "est", "une"),
}


def tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.strip(" ")) if t]


def fingerprint(text: str) -> str:
    norm = re.sub(r"\s+", " ", text.strip(" ")).lower()
    return hashlib.md5(norm.encode()).hexdigest()


def shingles(toks: list[str], n: int) -> list[str]:
    if len(toks) < n:
        return [s for s in [" ".join(toks)] if s]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def language(text: str) -> str:
    toks = tokens(text.lower())
    best, best_score = None, None
    for lang in sorted(LANG_MARKERS):
        s = sum(t in LANG_MARKERS[lang] for t in toks)
        if best is None or s > best_score:
            best, best_score = lang, s
    if re.search("[一-鿿]", text):
        return "zh"
    return best if best_score > 0 else "und"


def quality(text: str) -> float:
    nonspace = len(re.sub(r"\s", "", text))
    punct = len(re.sub(r"[a-zA-Z0-9\s]", "", text))
    pr = punct / nonspace if nonspace > 0 else 0.0
    n = (int(20 <= len(text) <= 100_000) + int(pr <= 0.3)
         + int(len(tokens(text)) >= 5))
    return n / 3.0


def dup_trigram_ratio(text: str) -> float:
    sh = shingles(tokens(text), 3)
    return 1.0 - len(set(sh)) / len(sh) if sh else 0.0


def _binom_tail_ge(n: int, p: float, k: int) -> float:
    return sum(math.comb(n, i) * p ** i * (1 - p) ** (n - i)
               for i in range(k, n + 1))


def lsh_error_bound(jaccards: list[float]) -> float:
    """Union bound on the probability that MinHash-LSH (8 bands x 4
    rows, estimate >= 0.6 over 32 hashes) returns a different edge set
    than exact Jaccard >= 0.6: a true edge is missed when no band
    collides or the estimate falls short; a false edge needs both a
    band collision and a high estimate."""
    need = math.ceil(JACCARD_THRESHOLD * NUM_HASHES)
    total = 0.0
    for j in jaccards:
        if j >= JACCARD_THRESHOLD:
            total += ((1 - j ** ROWS) ** BANDS
                      + 1 - _binom_tail_ge(NUM_HASHES, j, need))
        elif j > 0:
            total += min(1 - (1 - j ** ROWS) ** BANDS,
                         _binom_tail_ge(NUM_HASHES, j, need))
    return total


def curate(docs: dict[int, str], eval_docs: list[str]) -> dict:
    """The exact expected output of one curation pass."""
    counts = {"input": len(docs)}
    # exact dedup: min id per fingerprint
    by_fp: dict[str, int] = {}
    for i in sorted(docs):
        by_fp.setdefault(fingerprint(docs[i]), i)
    exact = sorted(by_fp.values())
    counts["after_exact_dedup"] = len(exact)

    # near-dup components over exact Jaccard of distinct 3-gram sets
    sets = {i: set(shingles(tokens(docs[i]), 3)) for i in exact}
    parent = {i: i for i in exact}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    jaccards, in_gap = [], []
    for a, b in combinations(exact, 2):
        inter = len(sets[a] & sets[b])
        if not inter:
            continue
        j = inter / len(sets[a] | sets[b])
        jaccards.append(j)
        if GAP[0] <= j < GAP[1]:
            in_gap.append((a, b, round(j, 3)))
        if j >= JACCARD_THRESHOLD:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    near = [i for i in exact if find(i) == i]
    counts["after_near_dedup"] = len(near)

    # passage excision: every token covered by a non-first occurrence
    # (ordered by doc id, position) of a repeated k-token window
    toks = {i: tokens(docs[i]) for i in near}
    first: dict[str, tuple[int, int]] = {}
    removed: dict[int, set] = {i: set() for i in near}
    for i in near:
        t = toks[i]
        for p in range(len(t) - PASSAGE_K + 1):
            w = " ".join(t[p:p + PASSAGE_K])
            if w in first:
                removed[i].update(range(p, p + PASSAGE_K))
            else:
                first[w] = (i, p)
    rebuilt = {}
    for i in near:
        keep = [x for p, x in enumerate(toks[i]) if p not in removed[i]]
        if keep:
            rebuilt[i] = " ".join(keep)
        elif not toks[i]:
            rebuilt[i] = docs[i]
    counts["after_passage_dedup"] = len(rebuilt)

    eval_sh = {s for e in eval_docs
               for s in shingles(tokens(e), DECONTAM_NGRAM)}
    clean = {}
    for i, text in rebuilt.items():
        if language(text) != "en" or quality(text) < MIN_QUALITY:
            continue
        if dup_trigram_ratio(text) > MAX_DUP_NGRAM_RATIO:
            continue
        if set(shingles(tokens(text), DECONTAM_NGRAM)) & eval_sh:
            continue
        clean[i] = text
    counts["clean"] = len(clean)

    all_toks = [t for text in clean.values() for t in tokens(text)]
    n_tok = len(all_toks)
    stats = {
        "n_docs": len(clean),
        "total_tokens": n_tok,
        "total_bpe_tokens": sum(
            len(re.findall(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]", text))
            for text in clean.values()),
        "avg_tokens": n_tok / len(clean) if clean else None,
        "vocab": len(set(all_toks)),
    }
    return {"counts": counts, "clean": clean, "stats": stats,
            "lsh_error_bound": lsh_error_bound(jaccards),
            "pairs_in_gap": in_gap}


class CheckFailed(Exception):
    """An op's output disagrees with the ground truth."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)
