"""Engine Python worker daemon: unchanged zip archives are not re-read per
task, changed or added ones still are, and workers find the engine from any
driver cwd."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from vstream_spark import worker_daemon

ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_archive_is_reread_only_when_changed(tmp_path, monkeypatch):
    archive = tmp_path / "probe.zip"
    _write_zip(archive, {"wd_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wd_probe_a", "wd_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "reads", 0)
    assert importlib.import_module("wd_probe_a").VALUE == 1
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert worker_daemon.reads == 1

    # The sc.addPyFile contract: a rewritten archive is re-read and its new
    # module imports.
    _write_zip(archive, {"wd_probe_a": "VALUE = 1\n", "wd_probe_b": "VALUE = 2\n"})
    st = archive.stat()
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importer.invalidate_caches()
    assert worker_daemon.reads == 2
    assert importlib.import_module("wd_probe_b").VALUE == 2

    # A vanished archive is handed to zipimport, which empties the directory.
    archive.unlink()
    importer.invalidate_caches()
    assert worker_daemon.reads == 3


def test_session_daemon_skips_unchanged_archives(spark):
    def probe(_):
        import os
        import sys
        import zipimport

        from vstream_spark import worker_daemon

        zips = sum(
            isinstance(imp, zipimport.zipimporter)
            for imp in sys.path_importer_cache.values()
        )
        return os.getpid(), worker_daemon.reads, zips

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == (
        "vstream_spark.worker_daemon"
    )
    # Idle workers are reused first-in first-out, so a pid recurs only after
    # the others; run one-task jobs until one pid has served three of them.
    visits: dict[int, list[tuple[int, int]]] = {}
    for _ in range(60):
        [(pid, reads, zips)] = sc.parallelize([0], 1).map(probe).collect()
        visits.setdefault(pid, []).append((reads, zips))
        if len(visits[pid]) == 3:
            break
    seen = visits[pid]
    assert len(seen) == 3, visits
    # The worker has zip importers, and they were read once, not per task.
    assert seen[2][1] > 0 and seen[0][0] > 0
    assert seen[1][0] == seen[2][0], seen


def test_added_py_file_is_importable_from_udf(spark, tmp_path):
    archive = tmp_path / "wd_added.zip"
    _write_zip(archive, {"wd_added_mod": "VALUE = 7\n"})
    sc = spark.sparkContext
    sc.addPyFile(str(archive))
    got = sc.parallelize([0], 1).map(lambda _: __import__("wd_added_mod").VALUE)
    assert got.collect() == [7]


FOREIGN_CWD_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {root!r})
    import numpy as np
    from vstream_spark.config import VectorIndexConf
    from vstream_spark.session import get_spark
    from vstream_spark.storage.search import SegmentSearcher
    from vstream_spark.storage.segments import SegmentStore

    spark = get_spark("wd-foreign-cwd", master="local[2]",
                      extra_conf={{"spark.sql.shuffle.partitions": "2"}})
    try:
        assert spark.sparkContext.parallelize([1, 2], 2).map(
            lambda x: x + 1).collect() == [2, 3]
        rng = np.random.RandomState(0)
        rows = [(i, rng.rand(8).astype(np.float32).tolist(), i, 10**12, "I")
                for i in range(50)]
        store = SegmentStore(spark, "segments")
        store.append_segment(spark.createDataFrame(
            rows, "id bigint, emb array<float>, event_time bigint, ttl bigint, op string"))
        queries = store.read().filter("id < 3").selectExpr("id as qid", "emb")
        got = SegmentSearcher(store, VectorIndexConf(dim=8)).search(queries, k=2)
        assert sorted(got.groupby("qid").size()) == [2, 2, 2], got
        print("FOREIGN_CWD_OK")
    finally:
        spark.stop()
    """
)


def test_workers_find_engine_from_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", FOREIGN_CWD_SCRIPT.format(root=ENGINE_ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "FOREIGN_CWD_OK" in proc.stdout, proc.stderr[-4000:]
