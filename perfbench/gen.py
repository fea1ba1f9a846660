"""Seeded workload generator: 128-d clustered vectors whose cluster centres
drift with event time, deletes of about 10% of earlier ids (each delete
carries its vector so a hashing partitioner routes it like the insert),
and TTL'd queries that favour recent data.

A vector's spread around its centre lies mostly in a 32-dimensional
subspace of its cluster: embeddings have a low intrinsic dimension.
Isotropic 128-d noise has no neighbourhood structure (all points of a
cluster are nearly equidistant); on it the engine's HNSW recall@10 at
``ef_search`` 128 ranged from 0.70 to 0.86 with the seed, so recall said
more about the seed than about the engine.

Everything here is numpy and runs outside the timed region. The engine
only ever sees the parquet files written by :func:`write_elements`.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
CLUSTERS = 32
# spread around a centre: N(0, LOCAL_SIGMA²) along LOCAL_DIM random
# directions of the cluster, plus isotropic N(0, NOISE²)
LOCAL_DIM = 32
LOCAL_SIGMA = 2.0
NOISE = 0.15
# Centre drift per unit of event time (ms); one file spans FILE_MS.
DRIFT_PER_MS = 2.0e-6
FILE_MS = 10_000
DELETE_SHARE = 0.10
QUERY_ID_BASE = 1_000_000_000

ELEMENT_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("emb", pa.list_(pa.float32())),
        ("event_time", pa.int64()),
        ("ttl", pa.int64()),
        ("op", pa.string()),
    ]
)
QUERY_SCHEMA = pa.schema([("qid", pa.int64()), ("emb", pa.list_(pa.float32()))])


class Elements:
    """One file's worth of rows, as parallel numpy columns."""

    def __init__(self, ids, emb, event_time, ttl, op):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.emb = np.asarray(emb, dtype=np.float32).reshape(-1, DIM)
        self.event_time = np.asarray(event_time, dtype=np.int64)
        self.ttl = np.asarray(ttl, dtype=np.int64)
        self.op = np.asarray(op, dtype=object)

    def __len__(self) -> int:
        return len(self.ids)

    def select(self, op: str) -> "Elements":
        m = self.op == op
        return Elements(self.ids[m], self.emb[m], self.event_time[m], self.ttl[m], self.op[m])

    @staticmethod
    def concat(parts: list["Elements"]) -> "Elements":
        return Elements(
            np.concatenate([p.ids for p in parts]),
            np.concatenate([p.emb for p in parts]),
            np.concatenate([p.event_time for p in parts]),
            np.concatenate([p.ttl for p in parts]),
            np.concatenate([p.op for p in parts]),
        )


def write_elements(path: str, el: Elements) -> None:
    """Write one element file."""
    table = pa.table(
        {
            "id": el.ids,
            "emb": pa.array(list(el.emb), type=pa.list_(pa.float32())),
            "event_time": el.event_time,
            "ttl": el.ttl,
            "op": pa.array(list(el.op), type=pa.string()),
        },
        schema=ELEMENT_SCHEMA,
    )
    pq.write_table(table, path)


def write_queries(path: str, qids: np.ndarray, emb: np.ndarray) -> None:
    table = pa.table(
        {"qid": qids.astype(np.int64), "emb": pa.array(list(emb.astype(np.float32)))},
        schema=QUERY_SCHEMA,
    )
    pq.write_table(table, path)


class Generator:
    """Deterministic for a given seed: the same calls in the same order give
    the same rows. Keeps every insert it emitted (ids, vectors, event
    times) and the delete time of each deleted id, which the ground truth
    needs."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.base = self.rng.normal(0.0, 1.0, (CLUSTERS, DIM))
        self.velocity = self.rng.normal(0.0, 1.0, (CLUSTERS, DIM))
        # rows of unit expected norm spanning each cluster's subspace
        self.basis = self.rng.normal(0.0, DIM ** -0.5, (CLUSTERS, LOCAL_DIM, DIM))
        self.next_id = 0
        self.next_qid = QUERY_ID_BASE
        self.ins_ids: list[np.ndarray] = []
        self.ins_emb: list[np.ndarray] = []
        self.ins_ts: list[np.ndarray] = []
        self.alive = np.zeros(0, dtype=bool)
        self.deleted_at: dict[int, int] = {}

    def centres(self, t: np.ndarray, which: np.ndarray) -> np.ndarray:
        return self.base[which] + self.velocity[which] * (DRIFT_PER_MS * t)[:, None]

    def vectors(self, t: np.ndarray) -> np.ndarray:
        which = self.rng.integers(0, CLUSTERS, len(t))
        local = np.einsum("nl,nld->nd", self.rng.normal(0.0, LOCAL_SIGMA, (len(t), LOCAL_DIM)),
                          self.basis[which])
        noise = self.rng.normal(0.0, NOISE, (len(t), DIM))
        return (self.centres(t, which) + local + noise).astype(np.float32)

    def file(self, index: int, n_inserts: int, n_queries: int = 0, ttl: int = 0) -> Elements:
        """Rows of file ``index``: inserts spread over its event-time span,
        about DELETE_SHARE * n_inserts deletes of ids inserted by earlier
        files (stamped at the end of the span), and ``n_queries`` queries
        stamped at the end of the span with window ``ttl``."""
        t0 = index * FILE_MS
        ts = np.sort(self.rng.integers(t0, t0 + FILE_MS - 1, n_inserts))
        ids = np.arange(self.next_id, self.next_id + n_inserts, dtype=np.int64)
        emb = self.vectors(ts)
        t_end = t0 + FILE_MS - 1
        parts = [Elements(ids, emb, ts, np.zeros(n_inserts), ["I"] * n_inserts)]
        candidates = np.flatnonzero(self.alive)
        n_del = min(len(candidates), int(round(DELETE_SHARE * n_inserts)))
        if n_del:
            victims = np.sort(self.rng.choice(candidates, n_del, replace=False))
            self.alive[victims] = False
            all_ids = np.concatenate(self.ins_ids)
            all_emb = np.concatenate(self.ins_emb)
            for v in victims:
                self.deleted_at[int(all_ids[v])] = t_end
            parts.append(
                Elements(all_ids[victims], all_emb[victims], np.full(n_del, t_end),
                         np.zeros(n_del), ["D"] * n_del)
            )
        self.next_id += n_inserts
        self.ins_ids.append(ids)
        self.ins_emb.append(emb)
        self.ins_ts.append(ts)
        self.alive = np.concatenate([self.alive, np.ones(n_inserts, dtype=bool)])
        if n_queries:
            q = self.queries(n_queries, np.full(n_queries, t_end))
            parts.append(Elements(q[0], q[1], np.full(n_queries, t_end),
                                  np.full(n_queries, ttl), ["Q"] * n_queries))
        return Elements.concat(parts)

    def queries(self, n: int, t: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """``n`` query vectors drawn around the cluster centres at times
        ``t``; returns (qids, vectors)."""
        qids = np.arange(self.next_qid, self.next_qid + n, dtype=np.int64)
        self.next_qid += n
        return qids, self.vectors(np.asarray(t, dtype=np.float64))

    def recent_times(self, n: int, now: int, scale: float) -> np.ndarray:
        """Event times skewed towards ``now``: now minus an exponential lag
        of mean ``scale``, clipped at 0."""
        lag = self.rng.exponential(scale, n)
        return np.clip(now - lag, 0, now)

    def inserted(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """All inserts so far: (ids, vectors, event times)."""
        if not self.ins_ids:
            empty = np.zeros(0, dtype=np.int64)
            return empty, np.zeros((0, DIM), np.float32), empty
        return (np.concatenate(self.ins_ids), np.concatenate(self.ins_emb),
                np.concatenate(self.ins_ts))
