"""Seeded input generators with ground truth, one per workload.

Every generator is a pure function of ``seed``: it returns the tables
the workload feeds the engine (written as parquet by ``write_inputs``)
and a ``truth`` dict the output checks and the run record use. The
engine only ever sees the written tables.

Class sizes are fixed and each length class is rescaled to a fixed
token total, so the work per job is the same for every seed while the
content (token values, doc order, which bucket a whale lands in, which
docs are duplicated) changes with it.
"""
from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# FIXTURES.md F1 length mix: (share, low, high) token counts per class
F1_CLASSES = {"short": (0.90, 2_000, 8_192),
              "medium": (0.09, 8_192, 65_536),
              "whale": (0.01, 262_144, 1_048_576)}
REGIME_LAMBDAS = np.array([20.0, 40.0, 80.0, 120.0])
FRAMING = (512, 256)              # CLI defaults --n-perseg / --n-overlap

N_FILES = 8                       # every generated table is 8 parquet files


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _regime_tokens(rng: np.random.Generator, n_tok: int,
                   stay: float = 0.995) -> np.ndarray:
    """Markov regime process over REGIME_LAMBDAS with Poisson emissions."""
    n_states = len(REGIME_LAMBDAS)
    runs = rng.geometric(1.0 - stay, size=n_tok // 50 + 16)
    while runs.sum() < n_tok:
        runs = np.concatenate([runs, rng.geometric(1.0 - stay, size=64)])
    steps = rng.integers(1, n_states, size=len(runs))
    states = (int(rng.integers(n_states)) + np.cumsum(steps)) % n_states
    lam = np.repeat(REGIME_LAMBDAS[states], runs)[:n_tok]
    return rng.poisson(lam).astype("int32")


def _class_lengths(rng: np.random.Generator, n: int, lo: int,
                   hi: int) -> np.ndarray:
    """``n`` lengths in [lo, hi) whose total is fixed at n * midpoint."""
    if n == 0:
        return np.zeros(0, dtype="int64")
    raw = rng.uniform(lo, hi, size=n)
    scaled = raw * (n * (lo + hi) / 2.0) / raw.sum()
    return np.clip(scaled, lo, hi - 1).astype("int64")


def n_segments(n_tok: int, n_perseg: int = FRAMING[0],
               n_overlap: int = FRAMING[1]) -> int:
    """Segment count of one doc under extend=True, pad=True framing."""
    step = n_perseg - n_overlap
    pad = (-(n_tok - n_perseg)) % step % n_perseg
    return (n_tok + 2 * (n_perseg // 2) + pad - n_overlap) // step


def _docs_table(ids, tokens, sources) -> pa.Table:
    lens = np.array([len(t) for t in tokens], dtype="int32")
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype("int32")
    flat = (np.concatenate(tokens) if tokens
            else np.zeros(0, dtype="int32")).astype("int32")
    return pa.table({
        "doc_id": pa.array(ids, pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
        "n_tok": pa.array(lens),
        "source": pa.array(sources, pa.string()),
    })


def regime_docs(seed: int, n_docs: int, classes: dict, stay: float = 0.995):
    """F1-style docs table: exact class counts, per-class fixed totals,
    classes shuffled over doc positions; ``stay`` is the regime
    process's probability of keeping its regime from token to token."""
    rng = _rng(seed, 1)
    counts, lengths, kinds = {}, [], []
    left = n_docs
    for name, (share, lo, hi) in list(classes.items())[1:]:
        counts[name] = max(1, round(share * n_docs)) if share else 0
        left -= counts[name]
    first = next(iter(classes))
    counts = {first: left, **counts}
    for name, n in counts.items():
        _, lo, hi = classes[name]
        lengths.append(_class_lengths(rng, n, lo, hi))
        kinds += [name] * n
    lengths = np.concatenate(lengths)
    order = rng.permutation(n_docs)
    lengths, kinds = lengths[order], [kinds[i] for i in order]
    ids = [f"s{seed}d{i:06d}" for i in range(n_docs)]
    tokens = [_regime_tokens(_rng(seed, 2, i), int(n), stay)
              for i, n in enumerate(lengths)]
    table = _docs_table(ids, tokens, [f"src{i % 8}" for i in range(n_docs)])
    total = int(lengths.sum())
    truth = {
        "docs": n_docs,
        "tokens": total,
        "length_mix": {k: v for k, v in counts.items()},
        "whale_token_share": (
            float(sum(int(n) for n, k in zip(lengths, kinds)
                      if k == "whale")) / total),
        "expected_segments": int(sum(n_segments(int(n)) for n in lengths)),
    }
    return {"docs": table}, truth


def features_inputs(seed: int, n_docs: int):
    return regime_docs(seed, n_docs, F1_CLASSES)


# similarity docs switch regime every 50 tokens on average, so the
# 1,024 tokens each HMM fit reads visit every regime. With the F1 docs'
# 200-token regimes a fit often saw two regimes for three states, and a
# few fits per hundred ran to the 300-iteration cap: one such doc
# changed a seed's job time by more than the rest of the fits together.
SIM_STAY = 0.98
SIM_DOCS = 16


def similarity_inputs(seed: int, n_docs: int):
    """Non-whale docs only: the short F1 class."""
    return regime_docs(seed, n_docs, {"short": F1_CLASSES["short"]},
                       stay=SIM_STAY)


# ---------------------------------------------------------------------------
# curation: a three-source text corpus with planted duplicates and
# eval-split overlap
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is"]
SOURCES = {"web": 0.5, "code": 0.3, "books": 0.2}


def _token(word: str) -> int:
    """tokenize.TOKEN_EXPR for one word: (length*31 + ascii) % 256."""
    return (len(word) * 31 + ord(word[0])) % 256


def _vocab(rng: np.random.Generator, n: int = 4000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, size=k)))
    words = STOPWORDS + sorted(words)
    p = 1.0 / np.arange(1, len(words) + 1)
    return np.array(words, dtype=object), p / p.sum()


def curation_inputs(seed: int, n_docs: int, dup_share: float = 0.10,
                    overlap_share: float = 0.03, junk_share: float = 0.12,
                    n_eval: int = 40):
    """documents table (doc_id, text, source) + tokenized eval table.

    * ``junk_share`` of docs repeat one short phrase (Gopher-filtered);
    * ``dup_share`` of docs are near-copies (1% of words substituted)
      of a base doc, in planted clusters of 2-4 docs;
    * ``overlap_share`` of docs embed a passage of an eval doc making
      up 60% of their words.
    """
    rng = _rng(seed, 3)
    vocab, p = _vocab(rng)

    def words(n):
        return list(rng.choice(vocab, size=n, p=p))

    def n_words():
        return int(np.clip(rng.lognormal(5.3, 0.5), 60, 1200))

    eval_docs = [words(n_words()) for _ in range(n_eval)]
    n_dup = int(round(dup_share * n_docs))
    n_overlap = int(round(overlap_share * n_docs))
    n_junk = int(round(junk_share * n_docs))
    n_base = n_docs - n_dup
    texts, kinds = [], []
    for i in range(n_base):
        if i < n_junk:
            phrase = words(5)
            texts.append(phrase * (n_words() // 5))
            kinds.append("junk")
        elif i < n_junk + n_overlap:
            ev = eval_docs[int(rng.integers(n_eval))]
            n = n_words()
            take = min(int(0.6 * n), len(ev))
            start = int(rng.integers(0, len(ev) - take + 1))
            texts.append(words(n - take) + ev[start:start + take])
            kinds.append("overlap")
        else:
            texts.append(words(n_words()))
            kinds.append("clean")
    # planted near-duplicate clusters over clean base docs
    clean = [i for i, k in enumerate(kinds) if k == "clean"]
    clusters, made = [], 0
    for base in rng.permutation(clean):
        if made >= n_dup:
            break
        size = min(int(rng.integers(1, 4)), n_dup - made)
        members = [int(base)]
        for _ in range(size):
            copy = list(texts[base])
            for j in rng.choice(len(copy), size=max(1, len(copy) // 100),
                                replace=False):
                copy[j] = vocab[int(rng.integers(len(STOPWORDS), len(vocab)))]
            texts.append(copy)
            kinds.append("dup")
            members.append(len(texts) - 1)
        clusters.append(members)
        made += size
    order = rng.permutation(len(texts))
    pos = {int(old): new for new, old in enumerate(order)}
    ids = [f"s{seed}t{i:06d}" for i in range(len(texts))]
    src_names = list(SOURCES)
    src_p = np.array(list(SOURCES.values()))
    sources = list(rng.choice(src_names, size=len(texts), p=src_p))
    documents = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array([" ".join(texts[int(o)]) for o in order]),
        "source": pa.array(sources),
    })
    eval_tokens = [np.array([_token(w) for w in ev], dtype="int32")
                   for ev in eval_docs]
    eval_table = _docs_table([f"s{seed}e{i:04d}" for i in range(n_eval)],
                             eval_tokens, ["eval"] * n_eval)
    planted = [[ids[pos[m]] for m in c] for c in clusters]
    n_tokens = sum(len(t) for t in texts)
    truth = {
        "docs": len(texts),
        "tokens": n_tokens,
        "sources": SOURCES,
        "junk_docs": n_junk,
        "dup_clusters": planted,
        "planted_pairs": sum(len(c) * (len(c) - 1) // 2 for c in planted),
        "planted_dup_docs": sum(len(c) - 1 for c in planted),
        "overlap_docs": sorted(ids[pos[i]] for i, k in enumerate(kinds)
                               if k == "overlap"),
        "eval_docs": n_eval,
    }
    return {"raw/documents.parquet": documents, "eval": eval_table}, truth


# ---------------------------------------------------------------------------
# pit: a keyed click/purchase event stream with one hot key
# ---------------------------------------------------------------------------

SESSION_GAP_US = 1_800_000_000        # 30 minutes


def pit_inputs(seed: int, n_events: int, n_keys: int = 10_000,
               hot_share: float = 0.40, purchase_share: float = 0.20,
               null_share: float = 0.10):
    """events(key, t_us, kind, dwell, amount): timestamps strictly
    increase within a key; 5% of gaps are session breaks (> the 30 min
    session gap), the rest are seconds to minutes; clicks carry
    ``dwell`` and purchases ``amount``, each null in ``null_share``."""
    rng = _rng(seed, 4)
    n_hot = int(hot_share * n_events)
    keys = np.concatenate([np.zeros(n_hot, dtype="int32"),
                           rng.integers(1, n_keys, size=n_events - n_hot,
                                        dtype="int32")])
    keys.sort(kind="stable")
    brk = rng.random(n_events) < 0.05
    gaps = np.where(brk, rng.integers(SESSION_GAP_US + 1,
                                      4 * SESSION_GAP_US, size=n_events),
                    rng.integers(1_000_000, 600_000_000, size=n_events))
    start = np.r_[True, keys[1:] != keys[:-1]]
    t = np.cumsum(gaps)
    # restart each key's clock at a random origin
    first_idx = np.flatnonzero(start)
    origin = rng.integers(0, 10 * SESSION_GAP_US, size=len(first_idx))
    run = np.diff(np.r_[first_idx, n_events])
    t_us = (t - np.repeat(t[first_idx] - origin, run)).astype("int64")
    is_purchase = rng.random(n_events) < purchase_share
    val = np.round(rng.gamma(2.0, 20.0, size=n_events), 3)
    null = rng.random(n_events) < null_share
    dwell = np.where(is_purchase | null, np.nan, val)
    amount = np.where(~is_purchase | null, np.nan, val)
    perm = rng.permutation(n_events)
    table = pa.table({
        "key": pa.array(keys[perm]),
        "t_us": pa.array(t_us[perm]),
        "kind": pa.array(np.where(is_purchase, "purchase", "click")[perm]),
        "dwell": pa.array(dwell[perm], from_pandas=True),
        "amount": pa.array(amount[perm], from_pandas=True),
    })
    # expected sessions over click rows (the asof join's left side)
    ck, ct = keys[~is_purchase], t_us[~is_purchase]
    new = np.r_[True, (ck[1:] != ck[:-1]) | (np.diff(ct) > SESSION_GAP_US)]
    truth = {
        "events": n_events,
        "keys": int(len(np.unique(keys))),
        "hot_key": 0,
        "hot_key_share": n_hot / n_events,
        "click_purchase_ratio": float((~is_purchase).sum()
                                      / max(is_purchase.sum(), 1)),
        "left_rows": int((~is_purchase).sum()),
        "expected_sessions": int(new.sum()),
        "null_share": null_share,
    }
    return {"events": table}, truth


def corpus_inputs(seed: int, n_docs: int):
    """The curation corpus (``n_docs`` documents) under ``curation/``
    and SIM_DOCS similarity docs under ``similarity/``."""
    tables, truth = {}, {}
    for part, (tabs, tr) in (("curation", curation_inputs(seed, n_docs)),
                             ("similarity",
                              similarity_inputs(seed, SIM_DOCS))):
        tables.update({f"{part}/{rel}": t for rel, t in tabs.items()})
        truth[part] = tr
    truth["docs"] = sum(tr["docs"] for tr in truth.values())
    return tables, truth


GENERATORS = {"features": features_inputs, "pit": pit_inputs,
              "corpus": corpus_inputs}


def write_inputs(root: str, workload: str, seed: int, size: int) -> dict:
    """Generate and write one workload's inputs under ``root`` once;
    later calls with the same arguments only read the truth file."""
    truth_path = os.path.join(root, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as fh:
            return json.load(fh)
    tables, truth = GENERATORS[workload](seed, size)
    for rel, table in tables.items():
        path = os.path.join(root, rel)
        if rel.endswith(".parquet"):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(table, path)
            continue
        os.makedirs(path, exist_ok=True)
        step = -(-table.num_rows // N_FILES)
        for k in range(N_FILES):
            part = table.slice(k * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(path,
                                                  f"part-{k:02d}.parquet"))
    tmp = truth_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(truth, fh)
    os.replace(tmp, truth_path)
    return truth
