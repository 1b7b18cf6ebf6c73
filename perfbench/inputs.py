"""Seeded input generator for the benchmark.

The corpus is built with ``numpy.random.default_rng`` alone, so the
same seed gives byte-identical inputs and the benchmark never reads data
from outside its own checkout. Its shape follows the repository's
synthetic test corpus (see TESTDATA.md):

``documents`` has ``doc_id`` dense from 0, 10-100 words drawn from a
30-word vocabulary, ``lang`` weighted towards ``en``, ``source`` =
``src{doc_id % 20}``. About 5% of documents are near-duplicates of an
earlier original (its text plus a ``dup`` marker, sometimes one word
changed) and about 0.5% are exact copies of one, so dedup and near-dup
operators find work whose size grows linearly with the corpus.

That structure (lengths, word positions, which documents copy which,
languages) is drawn from one fixed stream; the seed only relabels the
vocabulary, ``table`` excepted because the curate recipe splits
paragraphs on it. Like tiling a corpus with a per-copy word bijection,
this keeps every Jaccard similarity, duplicate and repeated paragraph,
so each seed gives other texts and other answers but the same work: a
free draw per seed made one seed's ``curate_corpus_full`` 20% slower
than the others'.

``write_stream_batches`` cuts the corpus into JSON-lines micro-batch
files in ``doc_id`` order, so "earlier batch wins" across batches is the
same rule as "lowest id wins" in batch ``exact_dedup``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
NEAR_DUP_P = 0.05
EXACT_DUP_P = 0.005
STRUCTURE_SEED = 0


def relabel(seed: int) -> list[str]:
    """The vocabulary under the seed's bijection; ``table`` stays."""
    others = [w for w in VOCAB if w != "table"]
    shuffled = iter(np.random.default_rng(seed).permutation(others).tolist())
    return [w if w == "table" else next(shuffled) for w in VOCAB]


def make_documents(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(STRUCTURE_SEED)
    vocab = relabel(seed)
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    kind = rng.random(n)
    texts: list[str] = []
    originals: list[int] = []
    pos = 0
    for i in range(n):
        w = words[pos : pos + lengths[i]]
        pos += lengths[i]
        # copies are taken from originals only: every near-dup family is
        # a star of diameter at most 2, so the rounds the connected-
        # components loop needs do not depend on the seed
        if originals and kind[i] < EXACT_DUP_P:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif originals and kind[i] < EXACT_DUP_P + NEAR_DUP_P:
            base = texts[originals[int(rng.integers(0, len(originals)))]].split()
            if rng.random() < 0.5:
                base[int(rng.integers(0, len(base)))] = vocab[int(w[0])]
            texts.append(" ".join(base) + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(vocab[j] for j in w))
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[j] for j in langs], type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_documents(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` under ``out_dir``; return its rows and
    bytes."""
    os.makedirs(out_dir, exist_ok=True)
    t = make_documents(seed, n_docs)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(t, path)
    return {"rows": t.num_rows, "bytes": os.path.getsize(path)}


def write_stream_batches(docs_path: str, out_dir: str, n_batches: int) -> dict:
    """Cut the documents table into ``n_batches`` JSON-lines files of
    contiguous ``doc_id`` ranges; file names and mtimes both follow
    batch order, so a file stream source reads them in that order."""
    os.makedirs(out_dir, exist_ok=True)
    rows = pq.read_table(docs_path).to_pylist()
    bounds = np.linspace(0, len(rows), n_batches + 1).astype(int)
    total = 0
    for b in range(n_batches):
        path = os.path.join(out_dir, f"batch-{b:04d}.json")
        with open(path, "w") as f:
            for r in rows[bounds[b] : bounds[b + 1]]:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
        total += os.path.getsize(path)
    return {"files": n_batches, "rows": len(rows), "bytes": total}
