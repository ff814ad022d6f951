"""The worker daemon's stat-gated zipimport invalidation.

The gate tests call ``worker_daemon.invalidate_caches`` directly on a temp
archive (no Spark). The session tests check that the conftest session's
workers run with the gate, and that a driver started outside the repo,
with no PYTHONPATH, still runs Python tasks.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from ir_base_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path):
    archive = str(tmp_path / "a.zip")
    _write_zip(archive, {"gate_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(imp)
    files = imp._files
    worker_daemon.invalidate_caches(imp)
    assert imp._files is files
    assert "gate_a.py" in files


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, monkeypatch):
    archive = str(tmp_path / "b.zip")
    _write_zip(archive, {"gate_b": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    assert importlib.import_module("gate_b").X == 1
    imp = sys.path_importer_cache[archive]
    files = imp._files
    _write_zip(archive, {"gate_b": "X = 1\n", "gate_b_new": "Y = 2\n"})
    importlib.invalidate_caches()
    try:
        assert imp._files is not files
        assert importlib.import_module("gate_b_new").Y == 2
    finally:
        sys.modules.pop("gate_b", None)
        sys.modules.pop("gate_b_new", None)


def test_deleted_archive_behaves_as_stdlib(tmp_path):
    archive = str(tmp_path / "c.zip")
    _write_zip(archive, {"gate_c": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(imp)
    os.remove(archive)
    worker_daemon.invalidate_caches(imp)
    assert imp._files == {}


def test_session_workers_run_the_gate(spark):
    # nested: cloudpickle ships it by value (tests/ is not on the workers' path)
    def _worker_gate_report(_):
        import importlib
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        imps = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and os.path.basename(f.archive) == "pyspark.zip"
        ]
        # the first call reads any importer created since the task started
        importlib.invalidate_caches()
        files = [f._files for f in imps]
        importlib.invalidate_caches()
        yield (
            fn.__name__,
            fn.__code__.co_filename,
            len(imps),
            all(f._files is b for f, b in zip(imps, files)),
        )

    rows = (
        spark.sparkContext.parallelize(range(2), 2)
        .mapPartitions(_worker_gate_report)
        .collect()
    )
    assert len(rows) == 2
    for name, filename, n_importers, survived in rows:
        assert name == "invalidate_caches"
        assert os.path.realpath(filename) == os.path.realpath(worker_daemon.__file__)
        assert n_importers > 0
        assert survived


def test_driver_outside_repo_without_pythonpath(tmp_path):
    driver = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from ir_base_spark.session import get_spark
        spark = get_spark(app_name="cwd-probe", cores=2, shuffle_partitions=2)
        rows = spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * x).collect()
        spark.stop()
        print("ROWS", rows)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", driver],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS [0, 1, 4, 9]" in out.stdout, out.stderr[-3000:]
