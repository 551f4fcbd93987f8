"""NumPy references for registry queries whose DuckDB oracle is too slow
to run in every benchmark run.

The DuckDB oracle of `semantic_dedup_keepers` takes 25-90 s on 100-500
vectors, longer than a whole run may last. `semantic_dedup_keepers`
below computes the same result in well under a second with the same
arithmetic: every dot product is a left-to-right float64 sum, as in the
oracle's `list_reduce`, so bucket signs and the cosine threshold fall
the same way. `test_perfbench.py` checks it against the DuckDB oracle.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

N_TABLES = 8
COSINE_MIN = 0.5


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products, summed left to right."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def semantic_dedup_keepers(corpus: str) -> pd.DataFrame:
    from stockpulse_spark.llmdata.similarity import pseudo_planes

    t = pq.read_table(os.path.join(corpus, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    e = np.array(t.column("embedding").to_pylist(), dtype=np.float32).astype(np.float64)
    n = len(ids)
    n_planes = max(4, min(12, math.ceil(math.log2(max(n, 64) / 64))))
    cand: set[tuple[int, int]] = set()
    for tidx in range(N_TABLES):
        planes = np.array(pseudo_planes(n_planes, e.shape[1], table=tidx))
        bits = _seq_dot(e[:, None, :], planes[None, :, :]) > 0
        bucket = (bits * (1 << np.arange(n_planes))).sum(axis=1)
        for b in np.unique(bucket):
            members = np.sort(ids[bucket == b])
            cand.update(
                (int(x), int(y)) for i, x in enumerate(members) for y in members[i + 1:]
            )
    pos = {int(v): i for i, v in enumerate(ids)}
    with np.errstate(divide="ignore", invalid="ignore"):
        norms = np.sqrt(_seq_dot(e, e))
        norms[norms == 0] = np.nan
    parent = {int(v): int(v) for v in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cand:
        ea, eb = e[pos[a]], e[pos[b]]
        cos = _seq_dot(ea, eb) / (norms[pos[a]] * norms[pos[b]])
        if cos >= COSINE_MIN:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    keeper = np.array([find(int(v)) for v in ids], dtype=np.int64)
    out = pd.DataFrame({"vec_id": ids.astype(np.int64), "keeper_id": keeper})
    out["is_duplicate"] = out["vec_id"] != out["keeper_id"]
    out["cluster_size"] = out.groupby("keeper_id")["vec_id"].transform("size").astype(np.int64)
    return out


REFERENCES = {"semantic_dedup_keepers": semantic_dedup_keepers}
