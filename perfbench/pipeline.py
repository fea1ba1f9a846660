"""Per-layer receipt of the ``queries`` layer: short declared queries of
``queries.REGISTRY`` over seeded TPC-H-like testdata, one query per
family, each checked against its DuckDB oracle.

These many short Spark jobs measure the driver and per-job fixed cost and
the training-data operators the vector workloads never touch. They run in
the traced ``mixed`` run only, after its timed phase: as a timed workload
of their own they did not repeat within the benchmark's bounds (see
README.md).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import time

from perfbench.harness import ROOT
from perfbench.stats import median

SF = 0.01
WARM_PASSES = 2
TIMED_PASSES = 3
# One query per family (name prefix) the vector workloads never run, the
# cheapest of each at sf0.01.
QUERIES = (
    "dedup_exact",
    "emb_mean_pool",
    "events_json_props",
    "knn_namespaced",
    "media_stats",
    "rel_user_value_delta",
    "sample_stratified",
    "streaming_dedup",
    "text_tokenize",
)


def _tool(name: str):
    """Import ``tools/<name>.py`` of the checkout as a module."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def family(name: str) -> str:
    return name.split("_", 1)[0]


def queries_layer(run, tracer, res) -> None:
    """Run QUERIES on seeded sf0.01 data (WARM_PASSES untimed passes, then
    TIMED_PASSES passes, each query in its own Spark job group), check the
    last results against their oracles, and add the ``pipeline.*`` layer
    metrics, attempts and failures to ``res``."""
    from vstream_spark.queries import REGISTRY

    spark = run.spark
    gen_testdata = _tool("gen_testdata")
    oracle = _tool("oracle_check")
    sf_dir = run.dir("sf")
    gen_testdata.SEED = run.seed
    with contextlib.redirect_stdout(io.StringIO()):
        gen_testdata.generate(SF, sf_dir)
    con = oracle.duck_con(sf_dir)

    def check(name: str, pdf) -> list[str]:
        sql = REGISTRY[name][1]
        if sql is None:
            # rows-only entries: the result must still canonicalise
            try:
                oracle.canon(pdf)
            except Exception as e:  # noqa: BLE001 - any failure is a finding
                return [f"rows-only result not canonicalizable: {e}"]
            return []
        return oracle.compare(name, pdf, con.execute(sql).fetchdf())

    for _ in range(WARM_PASSES):
        for name in QUERIES:
            REGISTRY[name][0](spark, sf_dir).toPandas()

    sc = spark.sparkContext
    secs: dict[str, list[float]] = {n: [] for n in QUERIES}
    last: dict[str, object] = {}
    counts = {"jobs": 0, "stages": 0, "tasks": 0}
    errors = 0
    for p in range(TIMED_PASSES):
        for name in QUERIES:
            group = f"pipeline-{p}-{name}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                last[name] = REGISTRY[name][0](spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                errors += 1
                res.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            secs[name].append(time.perf_counter() - t0)
            for k, v in tracer.group_counts(group).items():
                if k in counts:
                    counts[k] += v
    sc.setLocalProperty("spark.jobGroup.id", None)

    mismatches = 0
    for name, pdf in last.items():
        problems = check(name, pdf)
        if problems:
            mismatches += 1
            res.fail(f"{name}: " + "; ".join(problems))
    res.attempted += TIMED_PASSES * len(QUERIES)
    res.failed += errors + mismatches
    for k, v in counts.items():
        res.layers[f"pipeline.{k}"] = v / TIMED_PASSES
    res.layers["pipeline.oracle_mismatches"] = float(mismatches)
    for name, xs in secs.items():
        res.layers[f"pipeline.family.{family(name)}.s"] = median(xs) if xs else 0.0
