"""Seeded inputs for the benchmark workloads.

Everything here is derived from the workload seed alone and written under
the run's own work directory, never the repo's `.data/` cache:

* a synthetic `documents.parquet` (doc_id, text, lang) shaped like the
  repo's testdata documents (TESTDATA.md: a 31-word technical vocabulary,
  44-577 chars, five languages) that `datagen.materialize` builds pages and labeled
  pairs from;
* 64-d page embeddings (hashed word-3-shingle projection, unit norm), so
  the datagen duplicate families become planted near-duplicate vector
  families while unrelated pages keep the random-vector cosine tail of the
  testdata `embeddings.parquet`.
"""

from __future__ import annotations

import os
import random
import re
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dedupe_rust_spark import datagen

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EMB_DIM = 64
_EMB_TABLE = 4096
_WORD_RE = re.compile(r"\w+")


def write_documents(sf_dir: str, n_docs: int, seed: int) -> None:
    rng = random.Random(seed)
    rows = [(i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100))),
             rng.choice(LANGS)) for i in range(n_docs)]
    os.makedirs(sf_dir, exist_ok=True)
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(sf_dir, "documents.parquet"))


class Pages:
    """One generated page corpus: the parquet dir the engine reads plus the
    generator's golden columns the checks compare against."""

    def __init__(self, work: str, n_pages: int, n_docs: int, seed: int):
        sf_dir = os.path.join(work, "documents")
        self.dir = os.path.join(work, "pages")
        write_documents(sf_dir, n_docs, seed)
        pages_path, pairs_path = datagen.materialize(
            sf_dir, self.dir, n_rows=n_pages, seed=seed)
        self.table = pq.read_table(pages_path)
        self.pairs = pq.read_table(pairs_path).to_pandas()
        cols = self.table.select(["url", "html", "text"]).to_pydict()
        self.urls: list[str] = cols["url"]
        self.html: list[bytes | None] = cols["html"]
        self.text: list[str | None] = cols["text"]
        self.golden = dict(zip(self.urls, self.text))

    def __len__(self) -> int:
        return self.table.num_rows


def embed(texts: list[str], seed: int) -> np.ndarray:
    """Unit-norm float32 (n, 64) embeddings: each distinct word-3-shingle
    adds one seeded Gaussian row (crc32-hashed into a fixed table), so
    shared shingles make shared directions."""
    table = np.random.default_rng(seed).standard_normal((_EMB_TABLE, EMB_DIM))
    out = np.empty((len(texts), EMB_DIM))
    for i, t in enumerate(texts):
        toks = _WORD_RE.findall(t.lower())
        sh = {" ".join(toks[j:j + 3]) for j in range(max(len(toks) - 2, 1))}
        idx = [zlib.crc32(s.encode()) % _EMB_TABLE for s in sh]
        out[i] = table[idx].sum(axis=0)
    out /= np.linalg.norm(out, axis=1, keepdims=True)
    return out.astype(np.float32)


def write_embeddings(path: str, vectors: np.ndarray) -> None:
    tbl = pa.table({
        "vec_id": pa.array(np.arange(len(vectors), dtype=np.int64)),
        "embedding": pa.array(list(vectors), type=pa.list_(pa.float32())),
    })
    pq.write_table(tbl, path)

