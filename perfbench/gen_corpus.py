"""Seeded input generator for the ``corpus_prep`` workload. It writes
parquet under a directory keyed by seed and size and reuses it when it is
already complete.

``corpus_documents`` writes ``documents.parquet`` as a directory of several
part files. Texts draw from per-language Zipfian vocabularies (five
languages, 4000 words each), so a token's document frequency falls off the
way natural text does and near-duplicate candidate volume stays linear in
corpus size. Planted on top: exact duplicates, near-duplicate clusters
(copies with a few token edits) and contamination (train documents that
embed a span of a held-out document; the held-out split is the program's
``md5(text) % 100 >= 80``).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANG_WEIGHTS = {"en": 0.4, "es": 0.15, "fr": 0.15, "de": 0.15, "zh": 0.15}
VOCAB_PER_LANG = 4000
ZIPF_S = 1.1
N_FILES = 4


def _vocab(rng: np.random.Generator, lang: str) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB_PER_LANG:
        n = int(rng.integers(3, 10))
        words.add(lang + "".join(rng.choice(letters, n)))
    return sorted(words)


def _heldout(text: str) -> bool:
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16) % 100 >= 80


def corpus_documents(seed: int, n_docs: int, out_dir: str) -> None:
    """Generate the corpus unless ``out_dir`` already holds it."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    rng = np.random.default_rng([seed, 5])
    langs = list(LANG_WEIGHTS)
    vocab = {lg: _vocab(rng, lg) for lg in langs}
    ranks = np.arange(1, VOCAB_PER_LANG + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    doc_lang = rng.choice(langs, n_docs, p=list(LANG_WEIGHTS.values()))
    lengths = np.clip(rng.lognormal(4.3, 0.6, n_docs).astype(int), 8, 600)
    toks: list[list[str]] = []
    for lg, n in zip(doc_lang, lengths):
        idx = rng.choice(VOCAB_PER_LANG, n, p=p)
        toks.append([vocab[lg][i] for i in idx])
    # near-duplicate clusters: 6% of documents copy a base document of the
    # same language with ~3% of tokens replaced
    n_near = int(0.06 * n_docs)
    for d in rng.choice(n_docs, n_near, replace=False):
        b = int(rng.integers(0, n_docs))
        if b == d:
            continue
        lg = doc_lang[b]
        t = list(toks[b])
        for _ in range(max(1, len(t) // 33)):
            t[int(rng.integers(0, len(t)))] = vocab[lg][int(rng.integers(0, VOCAB_PER_LANG))]
        toks[d], doc_lang[d] = t, lg
    # contamination: 2% of documents embed an 8-token span of a held-out one
    texts = [" ".join(t) for t in toks]
    held = [i for i, t in enumerate(texts) if _heldout(t)]
    for d in rng.choice(n_docs, int(0.02 * n_docs), replace=False):
        h = held[int(rng.integers(0, len(held)))]
        if h == d or len(toks[h]) < 8:
            continue
        s = int(rng.integers(0, len(toks[h]) - 7))
        at = int(rng.integers(0, len(toks[d])))
        toks[d] = toks[d][:at] + toks[h][s:s + 8] + toks[d][at:]
        texts[d] = " ".join(toks[d])
    # exact duplicates: 3% of documents copy another document verbatim
    for d in rng.choice(n_docs, int(0.03 * n_docs), replace=False):
        b = int(rng.integers(0, n_docs))
        texts[d], doc_lang[d] = texts[b], doc_lang[b]
    df = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": doc_lang.astype(str),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    docs_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(docs_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(n_docs), N_FILES)):
        pq.write_table(pa.Table.from_pandas(df.iloc[part], preserve_index=False),
                       os.path.join(docs_dir, f"part-{i:05d}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()


def snapshot(src: str, dst: str) -> None:
    """A fresh, never-seen path holding the same parquet files (hard
    links)."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            os.link(os.path.join(root, fn), os.path.join(dst, rel, fn))
