"""Shared fixtures: one SparkSession + one DuckDB connection per session.

TEST_SF_DIR selects the scale factor (default sf0.01 — the driver's
correctness-gate scale)."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.01")


def _smallest_sibling_sf(sf_dir: str) -> str:
    root = os.path.dirname(os.path.normpath(sf_dir))
    try:
        sibs = sorted(
            (float(e[2:]), os.path.join(root, e))
            for e in os.listdir(root)
            if e.startswith("sf")
            and os.path.isdir(os.path.join(root, e))
            and e[2:].replace(".", "", 1).isdigit()
        )
    except OSError:
        return sf_dir
    return sibs[0][1] if sibs else sf_dir


#: Source fixture for the adversarial rebuilds: the smallest available
#: sibling SF of the session fixture dir (fast to rewrite per-test),
#: falling back to the session dir itself — derived from SF_DIR rather
#: than hardcoded so relocated fixtures / renamed SF tags keep the
#: suite runnable.
ADVERSARIAL_SRC = os.environ.get(
    "TEST_ADVERSARIAL_SRC", _smallest_sibling_sf(SF_DIR)
)


@pytest.fixture(scope="session")
def spark():
    from pymapreduce_spark.session import get_spark

    spark = get_spark(app_name="pymapreduce-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    from pymapreduce_spark.testing import make_duckdb

    con = make_duckdb(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


#: A JFR settings file that enables one event: every process the JVM
#: starts, with the Java stack that started it.
_PROCESS_START_JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
</configuration>
"""


@contextlib.contextmanager
def jvm_process_starts(spark):
    """Record the processes the session's JVM starts inside the block.

    Yields a list that is filled when the block exits: one
    ``(command, frames)`` pair per ``jdk.ProcessStart`` event, where
    ``frames`` are the starting stack's ``Class.method`` names, innermost
    first. A JFR recording with only that event enabled runs on the JVM
    (``jcmd <pid> JFR.start``) for the length of the block and is read
    back with ``jfr print --json``. Skips the test when ``jcmd`` or
    ``jfr`` is missing or PySpark did not start the JVM (no pid)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jcmd, jfr = shutil.which("jcmd"), shutil.which("jfr")
    if proc is None or not jcmd or not jfr:
        pytest.skip("needs jcmd, jfr and a JVM started by PySpark")
    pid = str(proc.pid)
    starts: list = []
    with tempfile.TemporaryDirectory() as tmp:
        settings = os.path.join(tmp, "process_start.jfc")
        with open(settings, "w") as fh:
            fh.write(_PROCESS_START_JFC)
        recording = os.path.join(tmp, "process_start.jfr")
        name = f"process_starts_{os.getpid()}_{id(starts)}"

        def jcmd_run(*args: str) -> None:
            out = subprocess.run(
                [jcmd, pid, *args], capture_output=True, text=True, timeout=60
            )
            assert out.returncode == 0, out.stdout + out.stderr

        jcmd_run("JFR.start", f"name={name}", f"settings={settings}")
        try:
            yield starts
            jcmd_run("JFR.dump", f"name={name}", f"filename={recording}")
        finally:
            subprocess.run(
                [jcmd, pid, "JFR.stop", f"name={name}"],
                capture_output=True,
                timeout=60,
            )
        printed = subprocess.run(
            [
                jfr, "print", "--json", "--stack-depth", "64",
                "--events", "jdk.ProcessStart", recording,
            ],
            capture_output=True,
            text=True,
            check=True,
            timeout=120,
        ).stdout
    for event in json.loads(printed)["recording"]["events"]:
        values = event["values"]
        frames = (values.get("stackTrace") or {}).get("frames") or []
        starts.append(
            (
                values.get("command"),
                [
                    f"{f['method']['type']['name'].replace('/', '.')}"
                    f".{f['method']['name']}"
                    for f in frames
                ],
            )
        )
