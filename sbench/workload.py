"""Seeded inputs of the two benchmark workloads.

Everything here is a pure function of (workload, seed, scale), so the same
seed gives the same corpus and query streams on every run.  The program
under test only ever sees the corpus parquet written from `corpus_rows` and
the (qid, text) query lists; it never sees the seed.

head_skew  the FIXTURES.md section 1 recipe: ~1.5k terms, 18 code "stopword"
           tokens carry ~35% of all tokens, so posting lists are long and
           per-posting work (encode, decode, scoring kernels) dominates.
long_tail  the same recipe with ~25% of tokens replaced by identifiers drawn
           uniformly from a large name pool: a vocabulary of ~3*10^4 terms,
           mostly df <= 3, so per-term work (encode groups, lexicon open,
           cursor and docno reads) dominates.
"""

from __future__ import annotations

import hashlib
import random

HEAD_TOKENS = ("int return if else for while void static const include def "
               "class import public new null true false").split()
PUNCT_TOKENS = ["foo(bar);", "x=y+1;", "a->b", '"str,lit"', "/*comment*/",
                "don't"]
ENGLISH_TOKENS = ["the", "and", "from", "use", "twinkle", "little", "wonder",
                  "world"]
EXTS = {"c": "c", "cpp": "cc", "py": "py", "java": "java", "js": "js"}

# n_docs: corpus size; n_names / name_share: identifier pool and the share
# of tokens replaced by a uniform draw from it; stream: serve queries timed
# one per call (p99 needs >= 1,000 samples); pool: distinct queries the
# head_skew stream repeats over.
WORKLOADS = {
    "head_skew": {"n_docs": 10_000, "n_names": 0, "name_share": 0.0,
                  "stream": 15_000, "pool": 2_000},
    "long_tail": {"n_docs": 2_000, "n_names": 30_000, "name_share": 0.25,
                  "stream": 1_000, "pool": 0},
}
BATCH_SIZE = 200          # the reference reports q/s over a 200-query set
ZIPF_S = 0.6              # popularity skew of the head_skew serve stream
WARM_QUERIES = 50         # one-per-call interpreter warm-up before a stream


def _rng(seed: int, *tag) -> random.Random:
    return random.Random(":".join(str(x) for x in (seed,) + tag))


def scaled(workload: str, scale: float) -> dict:
    """Workload sizes multiplied by `scale` (1.0 for real runs; the harness
    self-test runs a tiny corpus)."""
    w = dict(WORKLOADS[workload])
    if scale != 1.0:
        for key in ("n_docs", "n_names", "stream", "pool"):
            if w[key]:
                w[key] = max(50, int(w[key] * scale))
    return w


def _doc_tokens(i: int, seed: int) -> tuple[tuple[str, str, str, str], list[str]]:
    rng = _rng(seed, "doc", i)
    rand = rng.random
    langs = list(EXTS)
    repo = f"org{i % 7}/repo{i % 23}"
    lang = langs[i % 5]
    path = f"src/dir{i % 11}/file{i}.{EXTS[lang]}"
    commit = hashlib.sha1(f"{repo}:{path}".encode()).hexdigest()
    toks = []
    for _ in range(rng.randint(50, 300)):
        r = rand()
        if r < 0.35:
            toks.append(HEAD_TOKENS[min(int(rng.expovariate(0.35)),
                                        len(HEAD_TOKENS) - 1)])
        elif r < 0.75:
            toks.append(f"sym{int(rand() * 1000)}")
        elif r < 0.85:
            toks.append(f"fn_{int(rand() * 500)}")
        elif r < 0.93:
            toks.append(PUNCT_TOKENS[int(rand() * len(PUNCT_TOKENS))])
        else:
            toks.append(ENGLISH_TOKENS[int(rand() * len(ENGLISH_TOKENS))])
    return (repo, path, commit, lang), toks


def corpus_rows(workload: str, seed: int, scale: float = 1.0) -> list[tuple]:
    """(repo, path, commit, lang, content) rows of the workload's corpus."""
    w = scaled(workload, scale)
    rows = []
    for i in range(w["n_docs"]):
        key, toks = _doc_tokens(i, seed)
        if w["n_names"]:
            rng = _rng(seed, "names", i)
            rand, n_names = rng.random, w["n_names"]
            toks = [f"id{int(rand() * n_names)}"
                    if rand() < w["name_share"] else t for t in toks]
        rows.append(key + (" ".join(toks),))
    return rows


def _mix_query(rng: random.Random) -> str:
    """bench.make_query_batch's mix: rare symbols, fn_N + symbol, a head
    token + symbol, stemmable English."""
    head = ["int", "return", "static", "const", "void", "class"]
    english = ["twinkle", "wonder", "world", "little", "use"]
    kind = rng.random()
    if kind < 0.4:
        terms = [f"sym{rng.randrange(1000)}" for _ in range(rng.randint(1, 3))]
    elif kind < 0.6:
        terms = [f"fn_{rng.randrange(500)}", f"sym{rng.randrange(1000)}"]
    elif kind < 0.85:
        terms = [rng.choice(head), f"sym{rng.randrange(1000)}"]
    else:
        terms = rng.sample(english, rng.randint(1, 2))
    return " ".join(terms)


def _name_query(rng: random.Random, n_names: int) -> str:
    terms = [f"id{rng.randrange(n_names)}" for _ in range(rng.randint(1, 3))]
    if rng.random() < 0.3:
        terms.append(f"sym{rng.randrange(1000)}")
    return " ".join(terms)


def queries(workload: str, seed: int, tag: str, n: int,
            scale: float = 1.0) -> list[tuple[int, str]]:
    """n (qid, text) queries of the workload's query mix, seeded by tag."""
    w = scaled(workload, scale)
    rng = _rng(seed, "q", tag)
    make = ((lambda: _name_query(rng, w["n_names"])) if w["n_names"]
            else (lambda: _mix_query(rng)))
    return [(qid, make()) for qid in range(1, n + 1)]


def batch_queries(workload: str, seed: int, scale: float = 1.0):
    """The Spark batch: timed on both Spark paths and the correctness gate's
    seeded subset, checked on all three paths."""
    return queries(workload, seed, "batch", BATCH_SIZE, scale)


def serve_plan(workload: str, seed: int, scale: float = 1.0) -> dict:
    """The serving stream and what runs before it.

    head_skew: a Zipf-repeated stream over a pool of distinct queries; the
    whole pool is served once (batched) before timing, so every timed query
    hits the reader's caches.  long_tail: every query draws fresh names, so
    nearly every timed query touches terms the reader has not loaded; the
    warm-up uses only head and English tokens, which the stream never names,
    so it warms the interpreter without changing the stream's cache profile.
    Either way the profile is fixed by the seed, not by run length."""
    w = scaled(workload, scale)
    rng = _rng(seed, "serve")
    warm_rng = _rng(seed, "warm")
    warm = [(qid, " ".join(warm_rng.sample(HEAD_TOKENS + ENGLISH_TOKENS, 2)))
            for qid in range(1, WARM_QUERIES + 1)]
    if w["pool"]:
        pool = queries(workload, seed, "pool", w["pool"], scale)
        order = pool[:]
        rng.shuffle(order)
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(order))]
        stream = rng.choices(order, weights=weights, k=w["stream"])
        return {"fill": pool, "warm": warm, "stream": stream}
    return {"fill": [], "warm": warm,
            "stream": queries(workload, seed, "stream", w["stream"], scale)}


def first_touch_flags(stream, served_before=()) -> list[bool]:
    """For each stream query: does it name a token this reader has not
    served before?  Tokens are the raw whitespace-split query words; the
    generators only emit words that normalize one-to-one to index terms."""
    seen = set()
    for _, text in served_before:
        seen.update(text.split())
    flags = []
    for _, text in stream:
        toks = text.split()
        flags.append(any(t not in seen for t in toks))
        seen.update(toks)
    return flags
