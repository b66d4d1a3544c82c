"""Seeded inputs: corpus, NRT batches, injected near-duplicates, query stream.

Everything here is a pure function of the seed. The engine only ever sees
the tables and query strings these functions return.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

from lucene_solr_spark.corpus import generate_pages

_WORD = re.compile(r"[a-z]+")

# query shapes of the serve workloads: name -> (mode, k)
SHAPES = {
    "head": ("OR", 10),
    "rare": ("OR", 10),
    "and2": ("AND", 10),
    "and3": ("AND", 10),
    "or2": ("OR", 10),
    "or4": ("OR", 10),
    "or2_k100": ("OR", 100),
    "phrase": ("OR", 10),
    "sloppy": ("OR", 10),
    "not": ("OR", 10),
    "prefix": ("OR", 10),
    "fuzzy": ("OR", 10),
}


def pages(n_docs: int, seed: int) -> pd.DataFrame:
    """The (url, text) corpus the engine indexes."""
    return generate_pages(n_docs, seed)[["url", "text"]]


def nrt_batches(n_batches: int, batch_docs: int, seed: int) -> list[tuple[pd.DataFrame, str, str]]:
    """NRT batches with urls no other batch or the bulk corpus uses.

    Each batch plants one term that occurs nowhere else (the corpus
    vocabulary is consonant-vowel syllables, so ``zq...`` never occurs)
    into one seeded document. Returns (batch, planted_term, planted_url).
    """
    rng = np.random.default_rng(seed + 7919)
    out = []
    for b in range(n_batches):
        pdf = pages(batch_docs, seed * 1000 + 17 + b).copy()
        pdf["url"] = [f"https://nrt{b}.example/s{seed}/p/{i}" for i in range(len(pdf))]
        term = f"zqplant{b}x{seed}"
        i = int(rng.integers(0, len(pdf)))
        pdf.iloc[i, pdf.columns.get_loc("text")] = pdf["text"].iloc[i] + " " + term
        out.append((pdf, term, pdf["url"].iloc[i]))
    return out


def with_near_dups(n_docs: int, dup_frac: float, seed: int) -> tuple[pd.DataFrame, set[tuple[int, int]]]:
    """(doc_id, text) pages plus injected near-duplicates.

    A seeded ``dup_frac`` of the documents gets a copy with a few token
    edits (substitutions and deletions, at most 2% of its words, at least
    one). Returns the table and the true (original, copy) id pairs.
    """
    rng = np.random.default_rng(seed + 104729)
    base = generate_pages(n_docs, seed)["text"].tolist()
    n_dup = max(1, int(n_docs * dup_frac))
    originals = np.sort(rng.choice(n_docs, size=n_dup, replace=False))
    texts = list(base)
    pairs = set()
    for orig in originals:
        words = base[orig].split(" ")
        n_edit = max(1, len(words) // 50)
        for _ in range(n_edit):
            j = int(rng.integers(0, len(words)))
            if rng.random() < 0.5 and len(words) > 8:
                del words[j]
            else:
                words[j] = words[int(rng.integers(0, len(words)))]
        pairs.add((int(orig), len(texts)))
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}), pairs


@dataclass(frozen=True)
class Q:
    shape: str
    text: str
    mode: str
    k: int


def _band_pick(rng, terms: np.ndarray, dfs: np.ndarray) -> str:
    """One term of a df band, with the band's natural (df-weighted) repetition."""
    p = dfs / dfs.sum()
    return str(terms[rng.choice(len(terms), p=p)])


def query_stream(
    n: int, seed: int, vocab: np.ndarray, dfs: np.ndarray, texts: list[str],
) -> list[Q]:
    """``n`` seeded queries over the indexed corpus.

    ``vocab``/``dfs`` are the corpus's analyzed terms and document
    frequencies. Terms come from three df-rank bands (head = ranks 0-19,
    mid = ranks 100-299, rare = the 200 lowest-df terms
    with df >= 3), each drawn with its natural
    df-weighted repetition; the corpus is Zipf by rank, so a band costs
    about the same on every seed. Phrase pairs are adjacent (or near)
    words of a seeded document so they match. Prefix and fuzzy targets
    come from small per-seed pools (three prefixes, one fuzzy target), so
    their expansions repeat the way a real query log's do; prefixes are
    picked to expand to 3-8 terms.
    """
    rng = np.random.default_rng(seed + 15485863)
    alpha = np.array([bool(_WORD.fullmatch(t)) for t in vocab])
    vocab, dfs = vocab[alpha], dfs[alpha]
    order = np.argsort(-dfs, kind="stable")
    vocab, dfs = vocab[order], dfs[order]
    head = (vocab[:20], dfs[:20])
    mid = (vocab[100:300], dfs[100:300])
    n3 = int(np.sum(dfs >= 3))  # dfs is sorted descending
    rare = (vocab[max(300, n3 - 200):n3], dfs[max(300, n3 - 200):n3])
    known = set(vocab.tolist())
    lens = np.char.str_len(vocab.astype(str))
    fuzzy_pool = [str(t) for t in rng.choice(vocab[(lens >= 6) & (lens <= 8) & (dfs >= 3)],
                                             size=1, replace=False)]
    prefixes = pd.Series([t[:4] for t in vocab.tolist() if len(t) >= 6]).value_counts()
    prefixes = prefixes[(prefixes >= 3) & (prefixes <= 8)].sort_index()
    prefix_pool = [str(p) for p in rng.choice(prefixes.index.to_numpy(), size=3, replace=False)]

    def H():
        return _band_pick(rng, *head)

    def M():
        return _band_pick(rng, *mid)

    def R():
        return _band_pick(rng, *rare)

    def words_near(gap: int) -> tuple[str, str]:
        while True:
            ws = texts[int(rng.integers(0, len(texts)))].split()
            if len(ws) <= gap + 1:
                continue
            j = int(rng.integers(0, len(ws) - gap))
            a, b = ws[j], ws[j + gap]
            if a in known and b in known:
                return a, b

    def make(shape: str) -> str:
        if shape == "head":
            return H()
        if shape == "rare":
            return R()
        if shape == "and2" or shape == "or2" or shape == "or2_k100":
            return f"{H()} {M()}"
        if shape == "and3":
            return f"{H()} {H()} {M()}"
        if shape == "or4":
            return f"{H()} {M()} {M()} {R()}"
        if shape == "phrase":
            a, b = words_near(1)
            return f'"{a} {b}"'
        if shape == "sloppy":
            a, b = words_near(2)
            return f'"{a} {b}"~3'
        if shape == "not":
            return f"{H()} -{M()}"
        if shape == "prefix":
            return prefix_pool[int(rng.integers(0, 3))] + "*"
        if shape == "fuzzy":
            return fuzzy_pool[0] + "~1"
        raise ValueError(shape)

    # every shape equally often, in a seeded order per round, so the mix a
    # run measures does not drift with the seed
    shapes = list(SHAPES)
    out = []
    while len(out) < n:
        for j in rng.permutation(len(shapes)):
            mode, k = SHAPES[shapes[j]]
            out.append(Q(shapes[j], make(shapes[j]), mode, k))
    return out[:n]
