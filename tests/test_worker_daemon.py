"""The Python-worker daemon of ``get_spark`` sessions: a zip on ``sys.path``
is re-read only when the file changed, and Python tasks run under it."""

from __future__ import annotations

import importlib
import os
import runpy
import subprocess
import sys
import zipfile
import zipimport

import ssp_spark.worker_daemon  # installs the lazy hook in this process too

DAEMON = "ssp_spark.worker_daemon"


def _write_zip(path: str, modules: dict[str, str]) -> None:
    """Write a zip of ``{module: source}`` and move it onto ``path``, as a
    replaced file (new inode) rather than an in-place rewrite."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_zip_is_reread_only_when_the_file_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"ssp_zip_probe": "VALUE = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("ssp_zip_probe").VALUE == 1
        importlib.invalidate_caches()  # first invalidation records the key
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"ssp_zip_probe": "VALUE = 2\n", "ssp_zip_probe_new": "NEW = 3\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1
        del sys.modules["ssp_zip_probe"]
        assert importlib.import_module("ssp_zip_probe").VALUE == 2
        assert importlib.import_module("ssp_zip_probe_new").NEW == 3
        assert len(reads) == 1

        os.remove(archive)  # a failed stat falls back to the full re-read
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert archive not in zipimport._zip_directory_cache
    finally:
        for name in ("ssp_zip_probe", "ssp_zip_probe_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_hook_is_installed_once():
    """``python -m`` runs the module as ``__main__``; a later import by name
    runs a second copy of it, which must keep the first copy's hook."""
    hook = zipimport.zipimporter.invalidate_caches
    assert hook.lazy_zip_invalidation
    runpy.run_path(ssp_spark.worker_daemon.__file__, run_name="second_copy")
    assert zipimport.zipimporter.invalidate_caches is hook


def test_get_spark_workers_run_the_lazy_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == DAEMON

    def probe(_):
        # Reads the hook without importing ssp_spark.worker_daemon by name,
        # which would install it in the worker whatever daemon forked it.
        import sys
        import zipimport

        spec = getattr(sys.modules["__main__"], "__spec__", None)
        yield (
            getattr(zipimport.zipimporter.invalidate_caches, "lazy_zip_invalidation", False),
            getattr(spec, "name", None),
        )

    got = set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect())
    assert got == {(True, DAEMON)}


def test_pyfile_added_after_first_python_task_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 4).map(lambda x: x + 1).sum() == 10
    archive = str(tmp_path / "ssp_late_pyfile.zip")
    _write_zip(archive, {"ssp_late_pyfile_probe": "VALUE = 41\n"})
    sc.addPyFile(archive)

    def load(_):
        import ssp_late_pyfile_probe

        yield ssp_late_pyfile_probe.VALUE

    assert sc.parallelize(range(4), 4).mapPartitions(load).collect() == [41] * 4


def test_workers_find_the_package_from_any_working_directory(tmp_path):
    """A driver started outside the repository root, with no PYTHONPATH,
    still runs Python tasks: get_spark puts the package's parent on the
    workers' path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "profile_query.py"), "--task-floor"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "python_tasks_s" in out.stdout
