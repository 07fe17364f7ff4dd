"""Seeded inputs for the two workloads.

Every byte of every input is a function of ``(workload, seed, size)``;
the program under test only ever sees the generated tables.  Each
generator also returns the truth the benchmark checks outputs against:

* ``crawl_mix`` — ``data.pagegen.generate_pages(n, seed)``; the expected
  text of a page is the generator's own ``text`` column.
* ``near_dup`` — a ``documents(doc_id, text)`` table and a
  ``vectors(vec_id, embedding)`` table shaped like the scale-factor 0.1
  ``documents`` and ``embeddings`` tables the repository's ``bench.py``
  reads (the figures are in jobbench/README.md):

  - 5,000 documents of 10 to 100 words (uniform), each word drawn
    uniformly from a 30-word vocabulary;
  - 5 % of the rows copy an earlier row and append the word ``dup``, so
    copies of one row form exact-duplicate groups and every copy is a
    near-duplicate (word-shingle Jaccard 0.8 or more) of its source;
  - 2,000 64-d vectors: the first half unit-norm isotropic Gaussian
    (the ``embeddings`` table), the second half drawn around 24 centres
    with noise 0.15 (``bench.py``'s clustered regime); every 50th
    vector is a k-NN query, as in ``bench.py``.
"""

from __future__ import annotations

import hashlib
import random
import re

import numpy as np
import pyarrow as pa

from ragflow_spark.data import pagegen

SIZES = {"crawl_mix": 4000, "near_dup": 5000}

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
VECS_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])

# near_dup's shape, measured on the scale-factor 0.1 tables (README)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge"
    " order part query row scan slow small sort spark stream table the value vector window"
).split()
DOC_WORDS = (10, 100)
DUP_SHARE = 0.05
VECS_PER_DOC = 0.4  # 2,000 vectors beside 5,000 documents
EMBED_DIM = 64
N_CENTRES = 24
CENTRE_NOISE = 0.15
QUERY_EVERY = 50
# the operator settings of bench.py's suite
NEAR_DUP_THRESHOLD = 0.8
SIMHASH_RADIUS = 8
KNN_K = 5


class Inputs:
    """A workload's generated tables plus their truth."""

    def __init__(self, table: pa.Table, truth: dict, vectors: pa.Table | None = None):
        self.table = table
        self.vectors = vectors
        self.truth = truth

    @property
    def n_docs(self) -> int:
        return self.table.num_rows

    def digest(self) -> str:
        """sha256 over the tables' Arrow IPC bytes."""
        h = hashlib.sha256()
        for t in (self.table, self.vectors):
            if t is None:
                continue
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, t.schema) as w:
                w.write_table(t)
            h.update(sink.getvalue().to_pybytes())
        return h.hexdigest()


def _pages_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[]] * 5
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, PAGES_SCHEMA)],
        schema=PAGES_SCHEMA,
    )


def crawl_mix(seed: int, n: int | None = None) -> Inputs:
    rows = pagegen.generate_pages(n or SIZES["crawl_mix"], seed)
    expected = {r[0]: r[3] for r in rows}
    return Inputs(_pages_table(rows), {"expected": expected})


def canon(text: str) -> str:
    """Python twin of ``ops.textstats.norm_text`` for ASCII text."""
    return re.sub(r"\s+", " ", text.strip(" ")).lower()


def word_shingles(text: str, k: int = 3) -> frozenset:
    """Python twin of ``ops.dedup.shingle_stage(shingle="word")``."""
    words = canon(text).split(" ")
    return frozenset(" ".join(words[i : i + k]) for i in range(max(len(words) - k, 0) + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def near_dup(seed: int, n: int | None = None) -> Inputs:
    n = n or SIZES["near_dup"]
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(*DOC_WORDS))) for _ in range(n)
    ]
    # a fixed number of copies, each of a uniformly drawn earlier row
    source: dict[int, int] = {}
    for i in sorted(rng.sample(range(1, n), round(n * DUP_SHARE))):
        source[i] = rng.randrange(i)
        texts[i] = texts[source[i]] + " dup"
    grams = [word_shingles(t) for t in texts]
    families: dict[int, list[int]] = {}
    for i in range(n):
        root = i
        while root in source:
            root = source[root]
        families.setdefault(root, []).append(i)
    planted = [
        (a, b)
        for ids in families.values()
        for x, a in enumerate(ids)
        for b in ids[x + 1 :]
        if jaccard(grams[a], grams[b]) >= NEAR_DUP_THRESHOLD
    ]

    n_vecs = max(round(n * VECS_PER_DOC), 2 * QUERY_EVERY)
    nrng = np.random.default_rng(seed)
    iso = nrng.normal(size=(n_vecs // 2, EMBED_DIM))
    iso /= np.linalg.norm(iso, axis=1, keepdims=True)
    centres = nrng.normal(size=(N_CENTRES, EMBED_DIM))
    n_cl = n_vecs - len(iso)
    clustered = centres[np.arange(n_cl) % N_CENTRES] + CENTRE_NOISE * nrng.normal(
        size=(n_cl, EMBED_DIM)
    )
    emb = np.vstack([iso, clustered]).astype(np.float32)

    table = pa.Table.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)), pa.array(texts, type=pa.string())],
        schema=DOCS_SCHEMA,
    )
    vectors = pa.Table.from_arrays(
        [pa.array(np.arange(n_vecs, dtype=np.int64)),
         pa.array(list(emb), type=pa.list_(pa.float32()))],
        schema=VECS_SCHEMA,
    )
    truth = {"planted": planted, "grams": grams, "embedding": emb}
    return Inputs(table, truth, vectors)


GENERATORS = {"crawl_mix": crawl_mix, "near_dup": near_dup}


def generate(workload: str, seed: int, n: int | None = None) -> Inputs:
    return GENERATORS[workload](seed, n)
