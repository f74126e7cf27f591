"""The local-master Python worker daemon: its stat-checked zip directory
cache, and the session wiring that makes every Python task use it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from varint_simd_spark._worker_daemon import (
    _checked_invalidate_caches,
    _stock_invalidate_caches,
)

REPO = Path(__file__).resolve().parent.parent
DAEMON = "varint_simd_spark._worker_daemon"


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _count_reads(monkeypatch):
    calls = []
    stock = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["mod_a"])
    imp = zipimport.zipimporter(archive)
    calls = _count_reads(monkeypatch)
    _checked_invalidate_caches(imp)
    assert calls == [archive]  # first call here: no read recorded yet
    for _ in range(3):
        _checked_invalidate_caches(imp)
    # a second importer over the same archive shares the recorded read
    _checked_invalidate_caches(zipimport.zipimporter(archive))
    assert calls == [archive]
    assert imp.find_spec("mod_a") is not None


def test_rewritten_archive_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["mod_a"])
    imp = zipimport.zipimporter(archive)
    _checked_invalidate_caches(imp)
    assert imp.find_spec("mod_b") is None
    _write_zip(archive, ["mod_a", "mod_b"])
    calls = _count_reads(monkeypatch)
    _checked_invalidate_caches(imp)
    assert calls == [archive]
    assert imp.find_spec("mod_b") is not None


def test_deleted_archive_takes_stock_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["mod_a"])
    imp = zipimport.zipimporter(archive)
    _checked_invalidate_caches(imp)
    os.remove(archive)
    calls = _count_reads(monkeypatch)
    _checked_invalidate_caches(imp)
    assert calls == [archive]
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_import_does_not_install_replacement():
    assert zipimport.zipimporter.invalidate_caches is _stock_invalidate_caches


def test_session_daemon_serves_every_task(spark):
    assert spark.conf.get("spark.python.daemon.module") == DAEMON

    def report(batches):
        """The module and name of this worker's
        ``zipimporter.invalidate_caches``."""
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        f = zipimport.zipimporter.invalidate_caches
        spec = getattr(sys.modules[f.__module__], "__spec__", None)
        yield pa.RecordBatch.from_pydict(
            {"module": [spec.name if spec else f.__module__], "name": [f.__name__]}
        )

    got = (
        spark.range(4, numPartitions=4)
        .mapInArrow(report, "module string, name string")
        .collect()
    )
    assert len(got) == 4
    assert {(r["module"], r["name"]) for r in got} == {
        (DAEMON, "_checked_invalidate_caches")
    }


def test_extra_conf_overrides_daemon_module():
    """``extra_conf`` still picks the daemon; a new process, since static
    confs do not apply to an existing session."""
    script = textwrap.dedent(
        """
        import sys, zipimport
        sys.path.insert(0, sys.argv[1])
        from varint_simd_spark.sources.session import get_spark

        spark = get_spark(app_name="daemon_override", master="local[1]",
                          extra_conf={"spark.python.daemon.module": "pyspark.daemon"})

        def report(batches):
            import pyarrow as pa
            for _ in batches:
                pass
            f = zipimport.zipimporter.invalidate_caches
            yield pa.RecordBatch.from_pydict({"name": [f.__name__]})

        rows = spark.range(1, numPartitions=1).mapInArrow(report, "name string").collect()
        print("RESULT", spark.conf.get("spark.python.daemon.module"), rows[0]["name"])
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script, str(REPO)],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RESULT pyspark.daemon invalidate_caches" in out.stdout


def test_package_only_on_driver_sys_path_keeps_stock_daemon(tmp_path):
    """A driver that reaches the package only through ``sys.path`` (not
    the working directory, a site directory or ``PYTHONPATH``) gets the
    stock daemon, so its Python tasks run; the engine daemon would fail
    to import in the workers and fail every task."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        from varint_simd_spark.sources.session import get_spark

        spark = get_spark(app_name="daemon_sys_path", master="local[1]")

        def passthrough(batches):
            yield from batches

        n = spark.range(3, numPartitions=1).mapInArrow(passthrough, "id long").count()
        print("RESULT", spark.conf.get("spark.python.daemon.module", "unset"), n)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script, str(REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RESULT unset 3" in out.stdout
