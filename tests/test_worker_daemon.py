"""The engine's Python worker daemon and the workers' import path.

``pymapreduce_spark.worker_daemon`` keeps a zip importer's cached
directory until the archive's (size, mtime_ns, inode) stamp changes;
``get_spark`` selects it and puts the engine's root on the workers'
``PYTHONPATH``."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from types import SimpleNamespace

from pymapreduce_spark import session, worker_daemon
from pymapreduce_spark.session import ENGINE_ROOT


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    archive = str(tmp_path / "stamped.zip")
    _write_zip(archive, {"wd_stamp_a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_stamp_a").A == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        importlib.invalidate_caches()  # first call reads and stamps
        files = importer._files
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert importer._files is files, "unchanged archive was re-read"

        # Rewrite the same path in place with one module more.
        _write_zip(archive, {"wd_stamp_a.py": "A = 1\n", "wd_stamp_b.py": "B = 2\n"})
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module("wd_stamp_b").B == 2
    finally:
        for name in ("wd_stamp_a", "wd_stamp_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_udf_imports_added_pyfile_under_engine_daemon(spark, tmp_path):
    archive = str(tmp_path / "wd_pyfile.zip")
    _write_zip(archive, {"wd_pyfile_mod.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(archive)

    def probe(batches):
        import zipimport

        import pandas as pd
        import wd_pyfile_mod

        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({
                "value": [wd_pyfile_mod.VALUE],
                "method": [f"{method.__module__}.{method.__qualname__}"],
            })

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(probe, "value long, method string")
        .collect()
    )
    assert [r.value for r in rows] == [42, 42]
    assert {r.method for r in rows} == {
        "pymapreduce_spark.worker_daemon.invalidate_caches"
    }


def test_worker_path_merges_with_a_value_already_set():
    env = {"PYTHONPATH": os.pathsep.join(["/x/a", "/x/b"])}
    fake = SimpleNamespace(sparkContext=SimpleNamespace(environment=env))
    session._put_engine_on_worker_path(fake)
    session._put_engine_on_worker_path(fake)
    assert env["PYTHONPATH"] == os.pathsep.join([ENGINE_ROOT, "/x/a", "/x/b"])


_FOREIGN_CWD_SCRIPT = textwrap.dedent("""
    import sys
    sys.path.insert(0, {root!r})
    import pymapreduce_spark  # noqa: F401  (registers operators)
    from pymapreduce_spark.registry import ORACLES, QUERIES
    from pymapreduce_spark.session import get_spark
    from pymapreduce_spark.testing import compare_frames, make_duckdb

    spark = get_spark(app_name="foreign-cwd")
    spark.sparkContext.setLogLevel("ERROR")
    duck = make_duckdb({sf_dir!r})
    for name in ("api_wordcount", "stream_stateful_timers"):
        compare_frames(name, QUERIES[name](spark, {sf_dir!r}), duck, ORACLES[name])
    spark.stop()
""")


def test_python_ops_match_oracle_from_a_foreign_cwd(tmp_path, sf_dir):
    """Workers import the engine through get_spark's PYTHONPATH alone:
    the driver runs from a temp cwd with PYTHONPATH unset."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    script = _FOREIGN_CWD_SCRIPT.format(root=ENGINE_ROOT, sf_dir=os.path.abspath(sf_dir))
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
