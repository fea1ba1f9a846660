"""The ``search`` workload: a closed loop through the streaming query path
of a segment store that set-up builds through the streaming write path."""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Result, dir_bytes
from perfbench.stats import exact_topk, median, recall_at_k, tail
from perfbench.trace import trigger_progress

K = 10
# store of SEARCH_SEGMENTS time-ranged segments built during set-up; at
# 2800 rows a segment is above the bulk HNSW build threshold (2048)
SEARCH_SEGMENT_ROWS = 2800
SEARCH_SEGMENTS = 4
SEARCH_FILE_INSERTS = 2500
SEARCH_BATCH_QUERIES = 50
SEARCH_ROUND_FILES = 2
# warm-up batch before timing: it loads the segment artifacts into the
# executors' cache (one batch, so the benchmark's 48 runs fit their time budget)
SEARCH_WARM_FILES = 1
# recall floor: below the lowest recall of the seeds measured (see README.md)
SEARCH_RECALL_FLOOR = 0.85

# a run must end within 180 s; no healthy drain comes near this
STREAM_TIMEOUT_S = 100

ELEMENT_DDL = "id long, emb array<float>, event_time long, ttl long, op string"
QUERY_DDL = "qid long, emb array<float>"


def _conf():
    from vstream_spark.config import VectorIndexConf

    return VectorIndexConf(dim=gen.DIM)


def _run_stream(start, stream, ckpt: str, tracer=None):
    """Start an availableNow stream and wait for it to drain. Returns
    (seconds, per-trigger progress dicts). The stream's run id is the job
    group of every Spark job it runs; ``tracer`` collects it."""
    t0 = time.perf_counter()
    q = start(stream, ckpt)
    if tracer is not None:
        tracer.groups.append(str(q.runId))
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"stream did not drain within {STREAM_TIMEOUT_S} s")
    took = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    return took, trigger_progress(q)


def _trace_store(tracer, store) -> None:
    tracer.wrap(store, "append_batch", "segments.append_batch")
    tracer.wrap(store, "build_segment_indexes", "segments.build_segment_indexes")


def _segment_bytes(store_dir: str) -> dict:
    return {
        "segments.bytes_data": float(dir_bytes(store_dir, lambda p: p.endswith(".parquet"))),
        "segments.bytes_index": float(dir_bytes(store_dir, lambda p: p.endswith(".idx"))),
        # the manifest log and searcher state sit at the top of the store
        "segments.bytes_manifest": float(dir_bytes(
            store_dir, lambda p: os.path.dirname(p) == store_dir)),
    }


def _index_layer(res: Result, store, queries: np.ndarray) -> None:
    """Direct calls on one segment's artifact: rebuild its HNSW graph from
    the segment's rows, and search the persisted artifact."""
    from vstream_spark.index.hnsw import HnswIndex, build_index

    seg = max(store.segments(), key=lambda s: s["count"])
    tbl = pq.read_table(seg["path"], columns=["id", "emb", "event_time", "op"]).to_pandas()
    ins = tbl[tbl["op"] == "I"]
    vecs = np.stack(ins["emb"].to_numpy()).astype(np.float32)
    ids = ins["id"].to_numpy().astype(np.int64)
    ts = ins["event_time"].to_numpy().astype(np.int64)
    t0 = time.perf_counter()
    build_index(vecs, ids, ts=ts, metric="l2")
    res.layers["index.hnsw.build_us_per_vec"] = 1e6 * (time.perf_counter() - t0) / len(ids)
    idx_file = next(iter(glob.glob(os.path.join(seg["path"], "_hnsw-*.idx"))), None)
    if idx_file is None:
        res.layers["index.search_us_per_query"] = 0.0
        return
    with open(idx_file, "rb") as f:
        idx = HnswIndex.loads(f.read())
    conf = _conf()
    t0 = time.perf_counter()
    for q in queries:
        idx.search(np.asarray(q, dtype=np.float64), K, max(conf.ef_search, K))
    res.layers["index.search_us_per_query"] = 1e6 * (time.perf_counter() - t0) / len(queries)


# -- search ----------------------------------------------------------------


def search(run, tracer) -> Result:
    """Closed loop, one client: micro-batches of SEARCH_BATCH_QUERIES
    recency-skewed queries through StreamingVectorQuery (warm C7/C8 state
    restored each batch) against a store built during set-up."""
    from vstream_spark.storage.search import SegmentSearcher
    from vstream_spark.storage.segments import SegmentStore
    from vstream_spark.streaming.pipeline import StreamingVectorIngest, StreamingVectorQuery

    spark, res = run.spark, Result()
    conf = _conf()
    g = gen.Generator(run.seed)
    n_files = SEARCH_SEGMENTS
    src = run.dir("store-src")
    for i in range(n_files):
        gen.write_elements(os.path.join(src, f"f{i:05d}.parquet"), g.file(i, SEARCH_FILE_INSERTS))
    now = n_files * gen.FILE_MS

    # set-up (engine work): build the store in one trigger, time-ranged
    # into SEARCH_SEGMENTS segments with their HNSW artifacts
    t_setup = time.perf_counter()
    store_dir = run.dir("store")
    store = SegmentStore(spark, store_dir, dim=gen.DIM,
                         max_rows_per_segment=SEARCH_SEGMENT_ROWS)
    if tracer.enabled:
        _trace_store(tracer, store)
    _run_stream(StreamingVectorIngest(store, conf).start,
                spark.readStream.schema(ELEMENT_DDL).parquet(src),
                run.dir("store-ckpt"))
    build_s = time.perf_counter() - t_setup

    qsrc = run.dir("qsrc")
    out_dir = run.dir("out")
    svq = StreamingVectorQuery(store, out_dir, index_conf=conf, k=K)
    ckpt = run.dir("q-ckpt")

    def stream():
        return spark.readStream.schema(QUERY_DDL).option("maxFilesPerTrigger", 1).parquet(qsrc)

    qids_all, qemb_all = [], []
    nfile = 0

    def stage(n):
        nonlocal nfile
        for _ in range(n):
            t = g.recent_times(SEARCH_BATCH_QUERIES, now, now / 6.0)
            qids, qemb = g.queries(SEARCH_BATCH_QUERIES, t)
            gen.write_queries(os.path.join(qsrc, f"q{nfile:05d}.parquet"), qids, qemb)
            qids_all.append(qids)
            qemb_all.append(qemb)
            nfile += 1

    t0 = time.perf_counter()
    stage(SEARCH_WARM_FILES)
    _run_stream(svq.start, stream(), ckpt)
    warm_s = time.perf_counter() - t0
    warm_files = nfile

    if tracer.enabled:
        seg_of = _segment_lookup(store, g)
        live = {s["id"] for s in store.segments()}

        def after_search(rec, searcher, args, pdf):
            visited = list(searcher.last_searched_ids)
            hit = {seg_of(int(n)) for n in pdf["neighbor_id"]} if len(pdf) else set()
            rec["visited"] = len(visited)
            rec["live"] = len(live)
            rec["useful"] = len(hit.intersection(visited))

        tracer.wrap(SegmentSearcher, "search", "search.search", after=after_search)
        tracer.wrap(SegmentSearcher, "load_state", "search.load_state")
        tracer.wrap(SegmentSearcher, "save_state", "search.save_state")

    batch_ms, traced, untraced, progress, busy, rounds = [], [], [], [], 0.0, 0
    while busy < run.seconds:
        stage(SEARCH_ROUND_FILES)
        tracer.round(rounds)
        took, prog = _run_stream(svq.start, stream(), ckpt, tracer)
        busy += took
        rounds += 1
        progress.extend(prog)
        ms = [float(p["durationMs"]["triggerExecution"]) for p in prog]
        batch_ms.extend(ms)
        (traced if tracer.active else untraced).extend(ms)
    tracer.round(0)
    tracer.unwrap_all()
    n_queries = (nfile - warm_files) * SEARCH_BATCH_QUERIES

    # correctness and recall, untimed
    found = _read_results(out_dir)
    ids, emb, _ = g.inserted()
    alive = g.alive.copy()
    qids = np.concatenate(qids_all)
    qemb = np.concatenate(qemb_all)
    truth_ids = exact_topk(emb, ids, qemb, K, visible=alive)
    truth = {int(q): [int(x) for x in row if x >= 0] for q, row in zip(qids, truth_ids)}
    short = sum(1 for q in truth if len(found.get(q, ())) != K)
    res.attempted = len(truth)
    res.failed = short
    if short:
        res.fail(f"{short} queries returned other than {K} rows")
    recall = recall_at_k(found, truth, K)
    if recall < SEARCH_RECALL_FLOOR:
        res.fail(f"recall@10 {recall:.4f} below floor {SEARCH_RECALL_FLOOR}")

    t = tail(batch_ms)
    res.e2e = {
        "throughput_per_s": (n_queries / busy, "1/s"),
        "p50_ms": (median(batch_ms), "ms"),
        "tail_ms": (t["value"], "ms"),
        "recall_at10": (recall, "ratio"),
    }
    res.detail = {
        "query_per_s": (n_queries / busy, "1/s"),
        "query_batch_p50_ms": (median(batch_ms), "ms"),
        "query_batch_tail_ms": (t["value"], "ms"),
        "recall_at10": (recall, "ratio"),
    }
    res.notes.update(tail_pct=t["pct"], tail_n=t["n"], tail_beyond=t["beyond"],
                     segments=len(store.segments()), store_build_s=build_s,
                     warm_s=warm_s, queries=n_queries, rounds=rounds,
                     setup_engine_s=build_s + warm_s, ops=len(batch_ms),
                     traced_ms=traced, untraced_ms=untraced)
    if tracer.enabled:
        res.layers.update(_search_layers(tracer))
        res.layers.update(_store_layers(tracer, store, store_dir, src))
        _index_layer(res, store, qemb[:50])
        res.notes["trace_progress"] = progress
    return res


def _store_layers(tracer, store, store_dir: str, src: str) -> dict:
    """Write-path layer metrics: the set-up flush (append_batch and the
    flush-time index build), then one compaction of the store."""
    out = {
        "segments.append_batch.ms.p50": tracer.ms_p50("segments.append_batch"),
        "segments.append_batch.jobs": tracer.mean_field("segments.append_batch", "jobs"),
        "segments.build_segment_indexes.ms.p50": tracer.ms_p50("segments.build_segment_indexes"),
        "segments.build_segment_indexes.jobs":
            tracer.mean_field("segments.build_segment_indexes", "jobs"),
        "segments.live": float(len(store.segments())),
    }
    out.update(_segment_bytes(store_dir))
    flushed = dir_bytes(store_dir, lambda p: p.endswith((".parquet", ".idx")))
    t0 = time.perf_counter()
    store.compact()
    out["segments.compact.ms"] = 1000.0 * (time.perf_counter() - t0)
    rewritten = dir_bytes(store_dir, lambda p: p.endswith((".parquet", ".idx")))
    out["segments.compact.bytes_rewritten"] = float(rewritten)
    out["segments.write_amp"] = (flushed + rewritten) / max(1, dir_bytes(src))
    return out


def _segment_lookup(store, g):
    """id -> segment id, from each insert's event time and the segments'
    disjoint event-time ranges."""
    ids, _, ts = g.inserted()
    ts_of = dict(zip(ids.tolist(), ts.tolist()))
    segs = sorted(store.segments(), key=lambda s: s["min_event_time"])
    lo = np.array([s["min_event_time"] for s in segs])

    def seg_of(i: int) -> str | None:
        t = ts_of.get(i)
        if t is None:
            return None
        j = int(np.searchsorted(lo, t, side="right")) - 1
        return segs[j]["id"] if j >= 0 else None

    return seg_of


def _search_layers(tracer) -> dict:
    spans = tracer.named("search.search")
    visited = sum(s.get("visited", 0) for s in spans)
    io = [1000.0 * (a["end"] - a["start"] + b["end"] - b["start"])
          for a, b in zip(tracer.named("search.load_state"), tracer.named("search.save_state"))]
    return {
        "search.ms.p50": tracer.ms_p50("search.search"),
        "search.jobs_per_batch": tracer.mean_field("search.search", "jobs"),
        "search.tasks_per_batch": tracer.mean_field("search.search", "tasks"),
        "search.segments_visited.mean": tracer.mean_field("search.search", "visited"),
        "search.state_io_ms.p50": median(io) if io else 0.0,
        "search.visit_ratio": visited / max(1, sum(s.get("live", 0) for s in spans)),
        "search.useful_ratio": sum(s.get("useful", 0) for s in spans) / max(1, visited),
    }


def _read_results(out_dir: str) -> dict:
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return {}
    df = pq.read_table(files).to_pandas().sort_values(["qid", "rank"])
    return {int(q): g["neighbor_id"].astype(int).tolist() for q, g in df.groupby("qid")}
