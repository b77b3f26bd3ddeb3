"""Copy the documents and embeddings that the corpus_dedup workload uses.

    python3 perfbench/make_data.py SF_DIR

SF_DIR is a scale-factor directory of the repository's test data, with
``documents.parquet`` and ``embeddings.parquet``. The copy is a seeded
sample of about SHARE of each table, so that one corpus_dedup pass is
short enough for several in a run. Documents are drawn by near-duplicate
family, whole families at a time (a family: a connected component of
document pairs with 5-shingle Jaccard >= 0.5), so the sample keeps the
corpus's own near-duplicate structure and its rate of pairs per
document. The vectors have no near-duplicates (the largest cosine in
sf0.1 is 0.60) and are drawn one by one. Only the columns the workload
reads are kept. The committed copy in ``perfbench/corpus/`` was made from
sf0.1. Each run then derives its own seeded variant of it (see
``workloads.dedup_corpus``).
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
TABLES = {"documents": ["doc_id", "text"], "embeddings": ["vec_id", "embedding"]}
SHARE = 0.5
SEED = 20261017
JACCARD = 0.5


def shingles(text: str, n: int = 5) -> set:
    """The word n-shingles of ``dedup.minhash_signatures``."""
    w = text.lower().split()
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - n, 0) + 1)}


def families(texts: list[str]) -> list[int]:
    """Family label per document: the connected components of pairs with
    exact shingle Jaccard >= JACCARD (union-find over an inverted index)."""
    sets = [shingles(t) for t in texts]
    posting: dict = {}
    for i, s in enumerate(sets):
        for sh in s:
            posting.setdefault(sh, []).append(i)
    parent = list(range(len(texts)))

    def root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    seen = set()
    for ids in posting.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                if len(sets[a] & sets[b]) >= JACCARD * len(sets[a] | sets[b]):
                    parent[root(a)] = root(b)
    return [root(i) for i in range(len(texts))]


def sample(name: str, table: pa.Table, rng: np.random.Generator) -> pa.Table:
    if name == "embeddings":
        keep = rng.permutation(table.num_rows)[: round(SHARE * table.num_rows)]
        return table.take(np.sort(keep))
    fam = families(table.column("text").to_pylist())
    size = Counter(fam)
    chosen, n = set(), 0
    for f in rng.permutation(sorted(size)):
        if n >= SHARE * table.num_rows:
            break
        chosen.add(f)
        n += size[f]
    return table.filter(pa.array([f in chosen for f in fam]))


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    os.makedirs(DATA, exist_ok=True)
    rng = np.random.default_rng(SEED)
    for name, cols in TABLES.items():
        full = pq.read_table(os.path.join(argv[0], f"{name}.parquet"), columns=cols)
        table = sample(name, full, rng)
        pq.write_table(
            table.replace_schema_metadata(None), os.path.join(DATA, f"{name}.parquet"),
            compression="zstd", compression_level=19, use_dictionary=name == "documents",
        )
        print(f"{name}: {table.num_rows} of {full.num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
