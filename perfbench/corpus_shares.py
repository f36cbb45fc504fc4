#!/usr/bin/env python3
"""Near-duplicate shares of a documents table, as ``q_corpus_pipeline`` sees
them: exact Jaccard >= 0.8 over distinct word 3-gram shingles.

    python3 perfbench/corpus_shares.py <documents.parquet> ...

prints, per table, the shares that set the pipeline's LSH pair, connected-
component and decontamination work. ``datagen`` is tuned to the fixture's
shares; ``test_perfbench`` checks it stays there.
"""

from __future__ import annotations

import itertools
import sys
from collections import Counter, defaultdict

BENCH_SOURCES = {"src0", "src1", "src2", "src3"}
THRESHOLD = 0.8


def _shingles(text: str) -> set[tuple[str, str, str]]:
    w = text.split(" ")
    return set(zip(w, w[1:], w[2:]))


def _n_components(nodes: list[int], edges: list[tuple[int, int]]) -> int:
    parent = {n: n for n in nodes}

    def root(n: int) -> int:
        while parent[n] != n:
            parent[n] = parent[parent[n]]
            n = parent[n]
        return n

    for a, b in edges:
        parent[root(a)] = root(b)
    return len({root(n) for n in nodes})


def shares(doc_ids: list[int], sources: list[str], texts: list[str]) -> dict[str, float]:
    sh = {d: _shingles(t) for d, t in zip(doc_ids, texts)}
    src = dict(zip(doc_ids, sources))
    posting = defaultdict(list)
    for d, ss in sh.items():
        for g in ss:
            posting[g].append(d)
    common = Counter(
        pair for ds in posting.values() for pair in itertools.combinations(sorted(ds), 2)
    )
    pairs = [
        (a, b)
        for (a, b), c in common.items()
        if c / (len(sh[a]) + len(sh[b]) - c) >= THRESHOLD
    ]
    in_pair = {d for p in pairs for d in p}
    contaminated = {
        a if src[a] not in BENCH_SOURCES else b
        for a, b in pairs
        if (src[a] in BENCH_SOURCES) != (src[b] in BENCH_SOURCES)
    }
    train = [d for d in doc_ids if src[d] not in BENCH_SOURCES]
    clean = [d for d in train if d not in contaminated]
    clean_set = set(clean)
    clean_pairs = [(a, b) for a, b in pairs if a in clean_set and b in clean_set]
    n = len(doc_ids)
    return {
        "docs": n,
        "pairs_per_doc": len(pairs) / n,
        "docs_in_pair": len(in_pair) / n,
        "contaminated_of_train": len(contaminated) / len(train),
        "dedup_dropped_of_clean": 1 - _n_components(clean, clean_pairs) / len(clean),
    }


def main(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    for path in paths:
        t = pq.read_table(path, columns=["doc_id", "source", "text"]).to_pydict()
        s = shares(t["doc_id"], t["source"], t["text"])
        print(path, " ".join(f"{k}={v:.4g}" for k, v in s.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
