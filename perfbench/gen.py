"""Seeded inputs for the benchmark workloads.

Every input directory is a function of (workload, seed) alone:

* the relational lake (rulegen): each table of the base
  (perfbench/data, a copy of the repository's sf0.001 testdata), rows in
  a seeded order, written as two part files split at a seeded point near
  the middle;
* curation: the same lake, with the documents replaced by DOCS
  documents drawn from the base corpus's own distributions (see
  `corpus_model`): words by their frequency in the base, each original's
  length and language by resampling a base original, and near-copies at
  the base's rate and in the base's form.

Generation is never timed.
"""
import collections
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# curation's corpus size
DOCS = 1000
# the base corpus marks a near-copy by appending this word to a copy of
# another document, once or more
MARKER = "dup"


@dataclass(frozen=True)
class CorpusModel:
    words: list           # vocabulary without the marker
    word_p: np.ndarray    # each word's share of the base originals' words
    shapes: list          # (word count, lang) of every base original
    near_copy_rate: float # share of base documents that are near-copies
    marker_counts: list   # marker words appended, per base near-copy


def corpus_model(base: pa.Table) -> CorpusModel:
    """The base corpus's distributions. A document is a near-copy when it
    ends in the marker; stripped of its markers it is an original."""
    texts = base.column("text").to_pylist()
    langs = base.column("lang").to_pylist()
    shapes, marks, freq = [], [], collections.Counter()
    for text, lang in zip(texts, langs):
        words = text.split()
        k = 0
        while words and words[-1] == MARKER:
            words.pop()
            k += 1
        if k:
            marks.append(k)
        else:
            shapes.append((len(words), lang))
            freq.update(words)
    vocab = sorted(freq)
    counts = np.array([freq[w] for w in vocab], dtype=np.float64)
    return CorpusModel(vocab, counts / counts.sum(), shapes,
                       len(marks) / len(texts), marks)


def _write_parts(table: pa.Table, path: str, rng: np.random.Generator) -> None:
    """`table` in a seeded row order as a directory of two part files."""
    os.makedirs(path)
    n = table.num_rows
    order = rng.permutation(n)
    table = table.take(pa.array(order))
    cut = n // 2 + int(rng.integers(-n // 10, n // 10 + 1)) if n > 1 else n
    for i, (lo, hi) in enumerate([(0, cut), (cut, n)]):
        if hi > lo or i == 0:
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(path, f"part-{i:05d}.parquet"))


def documents(model: CorpusModel, n: int, rng: np.random.Generator) -> pa.Table:
    texts, langs = [], []
    for i in range(n):
        if i > 0 and rng.random() < model.near_copy_rate:
            src = int(rng.integers(0, i))
            k = model.marker_counts[int(rng.integers(0, len(model.marker_counts)))]
            texts.append(texts[src] + f" {MARKER}" * k)
            langs.append(langs[src])
        else:
            length, lang = model.shapes[int(rng.integers(0, len(model.shapes)))]
            idx = rng.choice(len(model.words), size=length, p=model.word_p)
            texts.append(" ".join(model.words[j] for j in idx))
            langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def generate(base_dir: str, out_dir: str, seed: int, scaled_docs: bool) -> None:
    """Writes every table of `base_dir` to `out_dir` (replaced if present)."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        src = os.path.join(base_dir, f"{t}.parquet")
        table = pq.read_table(src)
        if t == "documents" and scaled_docs:
            table = documents(corpus_model(table), DOCS, rng)
        _write_parts(table, os.path.join(tmp, f"{t}.parquet"), rng)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
