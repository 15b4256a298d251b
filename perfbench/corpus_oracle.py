"""Pure-Python from-scratch corpus cut: the four stores a dedup cut writes
(sketches, pairs, clusters, retained), computed without Spark from the
definitions in ``operators.dedup`` (word 3-gram shingles, md5-based MinHash
with the engine's published constants, LSH banding, exact-Jaccard verify
rounded half-up to 3 places, connected components labelled by their
minimum doc_id). The benchmark checks every incremental refresh against it.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

THRESHOLD, NUM_HASHES, BAND_SIZE, N = 0.8, 8, 2, 3


def _shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + N]) for i in range(len(w) - N + 1)}


def _round3(x: float) -> float:
    """Spark's ``round(double, 3)``: HALF_UP on the double's shortest decimal."""
    return float(Decimal(repr(x)).quantize(Decimal("0.001"), rounding=ROUND_HALF_UP))


def full_cut(docs: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """docs: (doc_id, text, repo, path, lang). Returns the four stores with
    the engine's column names and dtypes."""
    from bbc_news_etl_pipeline_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    ids = docs["doc_id"].to_numpy()
    sh = [_shingles(t) for t in docs["text"]]
    keep = [i for i, s in enumerate(sh) if s]  # docs with no shingle have no sketch
    a = np.array(MINHASH_A[:NUM_HASHES], dtype=np.int64)
    b = np.array(MINHASH_B[:NUM_HASHES], dtype=np.int64)
    sig = np.empty((len(keep), NUM_HASHES), dtype=np.int64)
    for r, i in enumerate(keep):
        base = np.array(
            [int(hashlib.md5(("mh:" + g).encode()).hexdigest()[:8], 16) for g in sh[i]],
            dtype=np.int64,
        )
        sig[r] = ((a[None, :] * base[:, None] + b[None, :]) % MINHASH_P).min(axis=0)
    sketches = pd.DataFrame({"doc_id": ids[keep]})
    for j in range(NUM_HASHES):
        sketches[f"minh_{j}"] = sig[:, j]
    sketches["n_sh"] = np.array([len(sh[i]) for i in keep], dtype=np.int64)

    # LSH candidates: pairs that agree on every minhash of at least one band
    cand: set[tuple[int, int]] = set()
    for band in range(NUM_HASHES // BAND_SIZE):
        buckets: dict[tuple, list[int]] = defaultdict(list)
        cols = sig[:, band * BAND_SIZE:(band + 1) * BAND_SIZE]
        for r in range(len(keep)):
            buckets[tuple(cols[r])].append(r)
        for rows in buckets.values():
            for x in range(len(rows)):
                for y in range(x + 1, len(rows)):
                    p, q = sorted((rows[x], rows[y]))
                    cand.add((p, q))
    pairs = []
    for p, q in cand:
        sa, sb = sh[keep[p]], sh[keep[q]]
        shared = len(sa & sb)
        if not shared:
            continue
        j = _round3(shared / (len(sa) + len(sb) - shared))
        if j >= THRESHOLD:
            da, db = sorted((int(ids[keep[p]]), int(ids[keep[q]])))
            pairs.append((da, db, j))
    pairs_df = pd.DataFrame(pairs, columns=["doc_a", "doc_b", "jaccard"]).astype(
        {"doc_a": "int64", "doc_b": "int64", "jaccard": "float64"}
    )

    # connected components over the verified pairs, labelled by their min
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for da, db, _ in pairs:
        ra, rb = find(da), find(db)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = pd.DataFrame(
        [(find(d), d) for d in parent], columns=["cluster_id", "doc_id"]
    ).astype("int64")
    losers = set(clusters.loc[clusters["cluster_id"] != clusters["doc_id"], "doc_id"])
    retained = docs[~docs["doc_id"].isin(losers)]
    return {"sketches": sketches, "pairs": pairs_df, "clusters": clusters, "retained": retained}
