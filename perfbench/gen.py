"""Benchmark input generator.

Writes the ``documents`` and ``embeddings`` parquet tables the workloads
read, with the schemas of ``sources.tables.SCHEMAS``, and the first
``N_CORPUS`` documents again as a reference-style file corpus (one text
file per document under a category directory, plus term, document and
stopword line dictionaries) for the file-chained text pipeline. That
chain pulls every matrix line through the driver, so its corpus is kept
to 400 of the 5,000 to fit the run budget. Table *content* is a
fixed function of ``CONTENT_SEED``, so the committed output digests hold
for every run. The workload seed only permutes the physical row order of
each table and the order in which corpus files are written: the same seed
gives byte-identical inputs, and a different seed gives the same rows in
another order, which the engine must not notice.

Sizes and shape copy the repository's sf0.1 synthetic test tables
(``documents``: 5,000 rows; ``embeddings``: 2,000 rows), measured from
those tables: word-soup documents of 10 to 100 words drawn uniformly from
a 31-word vocabulary (``a`` and ``the`` included), about 5 % of them
near-duplicates marked by a ``dup`` token; languages en 41 %, the other
four about 15 % each; twenty sources assigned round-robin; unit-norm 64-d
float32 embeddings with uniform random labels 0-9 and no cluster
structure. The near-duplicate graph follows from the document count, not
from the planted share: LSH candidate pairs on this corpus come mostly
from chance band collisions, so they grow with the square of the number of
documents. At 5,000 documents the corpus gives the candidate volume that
OPTIMIZATION_r13.md records for sf0.1 (10,708 candidate pairs; 84 % of
documents in 941 duplicate components); perfbench/README.md gives the
counts measured on this corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20261017
N_DOCS = 5000
N_EMB = 2000
N_CORPUS = 400
DIM = 64

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
STOPWORDS = ("a", "the")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05
# rows a pass of each workload reads: text_cluster's Lloyd trace reads the
# embeddings and its file chain the corpus; dedup_search reads both tables
INPUT_ROWS = {"text_cluster": N_EMB + N_CORPUS, "dedup_search": N_DOCS + N_EMB}
# the reference corpus's category directories (BBC news)
CATEGORIES = ("business", "entertainment", "politics", "sport", "tech")


def _texts(rng: np.random.Generator) -> list[str]:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < DUP_SHARE:
            # near-duplicate of an earlier document: one marker token inserted
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return texts


def _documents(rng: np.random.Generator, texts: list[str]) -> pa.Table:
    langs = rng.choice(len(LANGS), N_DOCS, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in langs], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    x = rng.normal(size=(N_EMB, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32()),
    })


def corpus_name(doc_id: int) -> tuple[str, str]:
    """(category directory, file stem) of a document in the file corpus."""
    return CATEGORIES[doc_id % len(CATEGORIES)], f"{doc_id // len(CATEGORIES):04d}"


def _write_corpus(out_dir: str, texts: list[str], order: np.ndarray) -> None:
    """``corpus/<category>/<stem>.txt`` per document; ``docs.txt`` lists
    ``<category>.<stem>`` in doc_id order (line number = document id),
    ``terms.txt`` the non-stopword vocabulary (line number = term id)."""
    root = os.path.join(out_dir, "corpus")
    for cat in CATEGORIES:
        os.makedirs(os.path.join(root, cat), exist_ok=True)
    for i in order[order < N_CORPUS]:
        cat, stem = corpus_name(int(i))
        with open(os.path.join(root, cat, f"{stem}.txt"), "w", encoding="utf-8") as fh:
            fh.write(texts[i] + "\n")
    with open(os.path.join(out_dir, "docs.txt"), "w", encoding="utf-8") as fh:
        fh.writelines(".".join(corpus_name(i)) + "\n" for i in range(N_CORPUS))
    with open(os.path.join(out_dir, "terms.txt"), "w", encoding="utf-8") as fh:
        fh.writelines(t + "\n" for t in sorted(set(VOCAB) - set(STOPWORDS)) + ["dup"])
    with open(os.path.join(out_dir, "stopwords.txt"), "w", encoding="utf-8") as fh:
        fh.writelines(w + "\n" for w in STOPWORDS)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seed-ordered tables and corpus into ``out_dir``; returns
    rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    content = np.random.default_rng(CONTENT_SEED)
    order = np.random.default_rng(seed)
    texts = _texts(content)
    rows = {}
    for name, table in (("documents", _documents(content, texts)), ("embeddings", _embeddings(content))):
        table = table.take(order.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    _write_corpus(out_dir, texts, order.permutation(N_DOCS))
    return rows
