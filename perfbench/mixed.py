"""The ``mixed`` workload: the reference job as an open loop.

The benchmark's main thread releases element files (inserts, 10% deletes
and TTL'd queries) on a seeded schedule, whatever the engine's progress, while Spark runs the stream on its own threads. The stream
routes them through the engine's LSH partitioner into
``stateful_vector_search`` (one HNSW graph per partition held in state)
and merges per-partition partials with ``operators.knn.topk`` in a
``foreachBatch`` sink. A query's latency is its emission time minus the
time its file was due. After the open loop has drained, bursts of files
released at once measure the engine's capacity: under the open loop the
answered rate is pinned to the offered rate, so it cannot show a faster or
slower engine.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

from perfbench import gen, pipeline
from perfbench.harness import Result
from perfbench.stats import exact_topk, median, recall_at_k, tail
from perfbench.trace import trigger_progress
from perfbench.vector import ELEMENT_DDL, K

FILE_INSERTS = 20
FILE_QUERIES = 4
# Offered load: one file per INTERVAL_S on average, 2 files/s = 40 inserts,
# 4 deletes and 8 queries per second, about half of the capacity the bursts
# measure. A trigger costs 1.0-1.6 s plus about 0.13 s per file, so latency
# is set mostly by that fixed cost; at 50 inserts per file the stream ran at
# 0.7-0.8 of capacity and a slower stretch of a shared machine lengthened
# triggers and queues together (see README.md).
INTERVAL_S = 0.5
# Each gap is drawn uniformly from GAP_JITTER of INTERVAL_S around it. On an
# exact grid the due times lock to the trigger period and a run's median
# jumps in steps of one gap; Poisson gaps clump files, and the run medians
# of ten seeds spread 0.12 of their median (see README.md).
GAP_JITTER = (0.5, 1.5)
TTL_MS = 40 * gen.FILE_MS
PARTITIONS = 4
# Warm-up: the first file starts the Python workers and the state store;
# the rest arrive at the offered rate, untimed, because the first triggers
# under load run up to 0.4 s slower while the JVM compiles the stream's code
# (more warm-up files would not fit the benchmark's time budget).
WARM_FILES = 5
DRAIN_TIMEOUT_S = 60.0
# recall floor: below the lowest recall of the seeds measured (see README.md)
RECALL_FLOOR = 0.70
EF_SEARCH = 128
# tracing alternates on and off every TRACE_ROUND_FILES released files
TRACE_ROUND_FILES = 4
# capacity: CAPACITY_BURSTS bursts of CAPACITY_FILES files, each released at
# once when the stream is idle; the median burst is reported
CAPACITY_BURSTS = 5
CAPACITY_FILES = 8


def _partitioner():
    from vstream_spark.config import PartitionerConf
    from vstream_spark.partitioners.dispatch import fit_partitioner

    conf = PartitionerConf(kind="lsh+proximity", num_partitions=PARTITIONS,
                           num_hashes=2, bucket_width=8.0, num_probes=1)
    return fit_partitioner(conf)


class Sink:
    """foreachBatch target: global top-k merge of one micro-batch's
    partials; records when each query's result was emitted and whether
    tracing was on then."""

    def __init__(self, part, tracer):
        self.part = part
        self.tracer = tracer
        self.lock = threading.Lock()
        self.emitted: dict[int, float] = {}
        self.batch_of: dict[int, int] = {}
        self.results: dict[int, list[int]] = {}
        self.traced: dict[int, bool] = {}

    def __call__(self, df, batch_id: int) -> None:
        from vstream_spark.operators.knn import topk

        with self.tracer.span("knn.topk"):
            rows = (
                topk(df, K, dedup=self.part.merge_needs_dedup)
                .select("qid", "neighbor_id", "rank")
                .collect()
            )
        now = time.perf_counter()
        active = self.tracer.active
        got: dict[int, list[tuple[int, int]]] = {}
        for r in rows:
            got.setdefault(int(r["qid"]), []).append((int(r["rank"]), int(r["neighbor_id"])))
        with self.lock:
            for qid, hits in got.items():
                self.emitted[qid] = now
                self.batch_of[qid] = int(batch_id)
                self.results[qid] = [n for _, n in sorted(hits)]
                self.traced[qid] = active


def mixed(run, tracer) -> Result:
    from pyspark.sql import functions as F

    from vstream_spark.config import VectorIndexConf
    from vstream_spark.streaming.stateful import stateful_vector_search

    spark, res = run.spark, Result()
    g = gen.Generator(run.seed)
    n_open = WARM_FILES + int(round(run.seconds / INTERVAL_S))
    n_files = n_open + CAPACITY_BURSTS * CAPACITY_FILES
    staging, src = run.dir("staging"), run.dir("src")
    files = []
    for i in range(n_files):
        el = g.file(i, FILE_INSERTS, FILE_QUERIES, TTL_MS)
        name = f"f{i:05d}.parquet"
        gen.write_elements(os.path.join(staging, name), el)
        q = el.select("Q")
        files.append((name, q.ids, q.emb, len(el)))

    t_setup = time.perf_counter()
    part = _partitioner()
    stream = spark.readStream.schema(ELEMENT_DDL).parquet(src)
    cols = ["partition_id", "op", "id", "emb", "event_time", "ttl"]
    data = part.partition_data(stream.filter(F.col("op") != "Q")).select(*cols)
    queries = part.partition_queries(
        stream.filter(F.col("op") == "Q").withColumn("qid", F.col("id"))
    ).select(*cols)
    # ef_search 128 as in the engine's own streaming ANN recall gate
    # (queries.knn_streaming_ann_recall): at the default 16 the TTL and
    # delete post-filter leaves some queries with fewer than k rows
    partials = stateful_vector_search(data.unionByName(queries),
                                      VectorIndexConf(dim=gen.DIM, ef_search=EF_SEARCH), k=K)
    sink = Sink(part, tracer)
    query = (partials.writeStream.foreachBatch(sink).outputMode("append")
             .option("checkpointLocation", run.dir("ckpt")).start())
    tracer.groups.append(str(query.runId))

    def answered(upto: int) -> int:
        with sink.lock:
            return sum(1 for i in range(upto) if all(int(q) in sink.emitted for q in files[i][1]))

    def release(i: int) -> None:
        name = files[i][0]
        os.replace(os.path.join(staging, name), os.path.join(src, name))

    def wait_for(upto: int, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            if answered(upto) == upto:
                return True
            time.sleep(0.02)
        return False

    # set-up: warm-up files
    release(0)
    answered_first = wait_for(1, DRAIN_TIMEOUT_S)
    for i in range(1, WARM_FILES):
        time.sleep(INTERVAL_S)
        release(i)
    if not (answered_first and wait_for(WARM_FILES, DRAIN_TIMEOUT_S)):
        raise RuntimeError("warm-up files were not answered")
    setup_engine_s = time.perf_counter() - t_setup

    # open loop: file i is due at start plus the sum of the first j seeded
    # gaps
    gaps = np.random.default_rng((run.seed, 1)).uniform(*GAP_JITTER, n_open)
    offsets = np.cumsum(INTERVAL_S * gaps)
    offsets -= offsets[0]
    due: dict[int, float] = {}
    lag_ms, backlog = [], []
    t_start = time.perf_counter()
    for j, i in enumerate(range(WARM_FILES, n_open)):
        tracer.round(j // TRACE_ROUND_FILES)
        d = t_start + float(offsets[j])
        pause = d - time.perf_counter()
        if pause > 0:
            time.sleep(pause)
        release(i)
        due[i] = d
        lag_ms.append(1000.0 * (time.perf_counter() - d))
        backlog.append((i + 1) - answered(i + 1))
    drained = wait_for(n_open, DRAIN_TIMEOUT_S)
    tracer.round(0)

    # capacity: answered rows per second while a burst drains
    capacity = []
    for b in range(CAPACITY_BURSTS if drained else 0):
        lo = n_open + b * CAPACITY_FILES
        hi = lo + CAPACITY_FILES
        t0 = time.perf_counter()
        for i in range(lo, hi):
            release(i)
        if not wait_for(hi, DRAIN_TIMEOUT_S):
            drained = False
            break
        took = max(sink.emitted[int(q)] for i in range(lo, hi) for q in files[i][1]) - t0
        capacity.append(sum(files[i][3] for i in range(lo, hi)) / took)
    progress = trigger_progress(query)
    query.stop()

    n_q = failed = 0
    for i in range(WARM_FILES, n_files):
        for q in files[i][1]:
            n_q += 1
            q = int(q)
            if q not in sink.emitted or len(sink.results.get(q, ())) != K:
                failed += 1
    # latency per file of the open loop (its queries share one emission),
    # labelled traced or untraced by the tracer's state when it was emitted
    lat, traced, untraced = [], [], []
    for i in range(WARM_FILES, n_open):
        qs = [int(q) for q in files[i][1]]
        if all(q in sink.emitted for q in qs):
            last = max(qs, key=lambda q: sink.emitted[q])
            ms = 1000.0 * (sink.emitted[last] - due[i])
            lat.append(ms)
            (traced if sink.traced[last] else untraced).append(ms)
    res.attempted, res.failed = n_q, failed
    if failed:
        res.fail(f"{failed} of {n_q} queries not answered with {K} rows")
    if not drained:
        res.fail("backlog did not drain")

    recall = _recall(g, files, sink)
    if recall < RECALL_FLOOR:
        res.fail(f"recall@10 {recall:.4f} below floor {RECALL_FLOOR}")

    t = tail(lat)
    capacity_per_s = median(capacity) if capacity else 0.0
    res.e2e = {
        "throughput_per_s": (capacity_per_s, "1/s"),
        "p50_ms": (median(lat), "ms"),
        "tail_ms": (t["value"], "ms"),
        "recall_at10": (recall, "ratio"),
    }
    res.detail = {
        "result_latency_p50_ms": (median(lat), "ms"),
        "result_latency_tail_ms": (t["value"], "ms"),
        "recall_at10": (recall, "ratio"),
        "capacity_rows_per_s": (capacity_per_s, "1/s"),
    }
    res.notes.update(tail_pct=t["pct"], tail_n=t["n"], tail_beyond=t["beyond"],
                     offered_files_per_s=1.0 / INTERVAL_S,
                     offered_rows_per_s=(FILE_INSERTS * 1.1 + FILE_QUERIES) / INTERVAL_S,
                     files=n_open - WARM_FILES, queries=n_q, setup_engine_s=setup_engine_s,
                     capacity_rows_per_s=capacity, ops=len(progress),
                     traced_ms=traced, untraced_ms=untraced,
                     trace_progress=progress)
    res.layers["gen.lag_ms.max"] = max(lag_ms)
    res.layers["gen.backlog_files.max"] = float(max(backlog))
    res.notes["gen_lag_ms_max"] = max(lag_ms)
    res.notes["gen_backlog_files_max"] = max(backlog)
    if tracer.enabled:
        res.layers["merge.topk.ms.p50"] = tracer.ms_p50("knn.topk")
        res.layers.update(_partition_layers(spark, part, src))
        pipeline.queries_layer(run, tracer, res)
    return res


def _recall(g, files, sink) -> float:
    """Exact ground truth per answered query over what its micro-batch could
    see: inserts of files in the same or earlier batches, inside the TTL
    window, minus the deletes of those batches."""
    ids, emb, ts = g.inserted()
    file_of_row = np.repeat(np.arange(len(files)), FILE_INSERTS)
    batch_of_file = np.full(len(files), np.iinfo(np.int64).max)
    qfile = {}
    for f, (_, qids, _, _) in enumerate(files):
        for q in qids:
            qfile[int(q)] = f
            if int(q) in sink.batch_of:
                batch_of_file[f] = min(batch_of_file[f], sink.batch_of[int(q)])
    pos = {int(x): n for n, x in enumerate(ids)}
    dels = sorted(g.deleted_at.items())
    del_rows = np.array([pos[i] for i, _ in dels], dtype=np.int64)
    del_files = np.array([t // gen.FILE_MS for _, t in dels], dtype=np.int64)
    truth, found = {}, {}
    for f, (_, qids, qemb, _) in enumerate(files):
        for q, v in zip(qids, qemb):
            q = int(q)
            if q not in sink.batch_of:
                continue
            b = sink.batch_of[q]
            et = f * gen.FILE_MS + gen.FILE_MS - 1
            vis = (batch_of_file[file_of_row] <= b) & (ts >= et - TTL_MS)
            if len(del_rows):
                vis[del_rows[batch_of_file[del_files] <= b]] = False
            row = exact_topk(emb, ids, v[None, :], K, visible=vis)[0]
            truth[q] = [int(x) for x in row if x >= 0]
            found[q] = sink.results[q]
    return recall_at_k(found, truth, K) if truth else 0.0


def _partition_layers(spark, part, src: str) -> dict:
    """Direct calls on the partitioner and on one partition's graph: route
    every released insert, then rebuild the largest partition's HNSW graph
    point by point as the stateful operator does, and time its state
    serialisation."""
    from pyspark.sql import functions as F

    from vstream_spark.index.hnsw import HnswIndex
    from vstream_spark.partitioners.dispatch import balance_factor

    el = spark.read.schema(ELEMENT_DDL).parquet(src)
    ins = el.filter(F.col("op") == "I")
    n = ins.count()
    t0 = time.perf_counter()
    routed = part.partition_data(ins).select("partition_id", "id", "emb", "event_time").collect()
    out = {"partitioner.route_us_per_row": 1e6 * (time.perf_counter() - t0) / max(1, n)}
    out["partitioner.balance_factor"] = balance_factor(part.partition_data(ins))
    fan = (part.partition_queries(el.filter(F.col("op") == "Q").withColumn("qid", F.col("id")))
           .dropDuplicates(["id"]).agg(F.avg("num_partitions_sent")).first()[0])
    out["partitioner.query_fanout.mean"] = float(fan or 0.0)

    sizes: dict[int, int] = {}
    for r in routed:
        sizes[r["partition_id"]] = sizes.get(r["partition_id"], 0) + 1
    big = max(sizes, key=sizes.get)
    rows = sorted((r for r in routed if r["partition_id"] == big),
                  key=lambda r: (r["event_time"], r["id"]))
    from vstream_spark.config import VectorIndexConf

    conf = VectorIndexConf(dim=gen.DIM, ef_search=EF_SEARCH)
    idx = HnswIndex(conf.dim, conf.metric, conf.m, conf.ef_construction, seed=42)
    vecs = [np.asarray(r["emb"], dtype=np.float32) for r in rows]
    t0 = time.perf_counter()
    for r, v in zip(rows, vecs):
        idx.add_point(v, int(r["id"]), int(r["event_time"]))
    out["index.hnsw.add_point_us"] = 1e6 * (time.perf_counter() - t0) / max(1, len(rows))
    t0 = time.perf_counter()
    blob = idx.dumps()
    out["index.hnsw.dumps_ms"] = 1000.0 * (time.perf_counter() - t0)
    out["index.hnsw.state_bytes"] = float(len(blob))
    t0 = time.perf_counter()
    idx = HnswIndex.loads(blob)
    out["index.hnsw.loads_ms"] = 1000.0 * (time.perf_counter() - t0)
    qs = vecs[:50]
    t0 = time.perf_counter()
    for v in qs:
        idx.search(v.astype(np.float64), K, max(conf.ef_search, K))
    out["index.search_us_per_query"] = 1e6 * (time.perf_counter() - t0) / max(1, len(qs))
    return out
