"""Summary statistics shared by every workload: medians, the tail
percentile rule, and recall against exact ground truth."""

from __future__ import annotations

import math

import numpy as np

# Percentiles the tail rule may pick, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# The tail is the highest ladder percentile with this many samples above it.
TAIL_MIN_BEYOND = 10
# Query rows per block of the exact top-k distance matrix.
TOPK_BLOCK = 256


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def median(samples) -> float:
    """Nearest-rank median, so that it never exceeds the tail percentile
    of the same sample."""
    return percentile(samples, 50.0)


def tail(samples) -> dict:
    """The highest ladder percentile that leaves at least TAIL_MIN_BEYOND
    samples strictly above its rank. Returns ``{"value", "pct", "n",
    "beyond"}``. A sample too small for even the median to qualify
    reports the median with its (short) count beyond, so the caller can
    see that the tail is not supported."""
    n = len(samples)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return {"value": percentile(samples, p), "pct": p, "n": n, "beyond": n - rank}
    p = TAIL_LADDER[-1]
    rank = max(1, math.ceil(p / 100.0 * n))
    return {"value": percentile(samples, p), "pct": p, "n": n, "beyond": n - rank}


def recall_at_k(found: dict, truth: dict, k: int) -> float:
    """Mean over the queries of ``truth`` of |found ∩ truth| / min(k,
    |truth|). ``found`` and ``truth`` map a query id to a sequence of
    neighbour ids; a query absent from ``found`` scores 0."""
    if not truth:
        raise ValueError("recall needs at least one query with ground truth")
    total = 0.0
    for qid, want in truth.items():
        want = list(want)[:k]
        if not want:
            total += 1.0
            continue
        got = set(list(found.get(qid, ()))[:k])
        total += len(got.intersection(want)) / len(want)
    return total / len(truth)


def exact_topk(
    data: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int,
    visible: np.ndarray | None = None,
) -> np.ndarray:
    """Exact squared-L2 top-k ids of each query row over ``data`` rows.
    ``visible`` is an optional (queries x rows) or (rows,) boolean mask of
    the rows each query may return. Ties break on the smaller id, as the
    engine's merge does. Returns a (queries x k) int64 array padded with
    -1 where fewer than k rows are visible."""
    data = np.asarray(data, dtype=np.float64)
    sq = (data * data).sum(axis=1)
    order_ids = np.asarray(ids, dtype=np.int64)
    out = np.full((len(queries), k), -1, dtype=np.int64)
    for lo in range(0, len(queries), TOPK_BLOCK):
        q = np.asarray(queries[lo:lo + TOPK_BLOCK], dtype=np.float64)
        d = sq[None, :] - 2.0 * q @ data.T + (q * q).sum(axis=1)[:, None]
        if visible is not None:
            mask = visible if visible.ndim == 1 else visible[lo:lo + TOPK_BLOCK]
            d = np.where(mask, d, np.inf)
        for i in range(len(q)):
            row = d[i]
            finite = np.flatnonzero(np.isfinite(row))
            if len(finite) == 0:
                continue
            cand = finite[np.argsort(row[finite], kind="stable")[: k * 4]]
            cand = sorted(cand, key=lambda j: (row[j], order_ids[j]))[:k]
            out[lo + i, : len(cand)] = order_ids[cand]
    return out
