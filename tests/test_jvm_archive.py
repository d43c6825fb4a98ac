"""The driver JVM's class-data-sharing archive (``session.get_spark``).

Each launch test runs ``get_spark`` in a child process, so the child
launches a JVM of its own, with ``io.JVM_ARCHIVE_DIR`` pointed at a
temporary dir. A child reports what it saw as one JSON line on stdout:
the JVM's input arguments (``RuntimeMXBean``), whether the JVM maps the
archive file (``/proc/<pid>/maps``) and ``SPARK_CONF_DIR`` before and
after ``get_spark``. Two of the ways an archive goes unused raise no
error (a flag replaced by a caller's java options, a classpath the dump
refuses), so these tests look for the mapping itself.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pytest
from pyspark.find_spark_home import _find_spark_home

from pymapreduce_spark import io as pio
from pymapreduce_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_CONF = os.path.join(_find_spark_home(), "conf")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SPARK_CONF)
    or any(not n.endswith(".template") for n in os.listdir(SPARK_CONF)),
    reason="Spark's conf dir is missing or holds active files, so get_spark uses no archive",
)

#: perfbench's submit arguments: its java options replace any
#: ``spark.driver.extraJavaOptions`` a builder sets.
PERFBENCH_SUBMIT_ARGS = "--conf spark.driver.extraJavaOptions=-Xms1g pyspark-shell"

#: The child: start a session through get_spark with the archive dir
#: given as argv[1], run ``extra`` (which may add to ``out``), print
#: ``out`` as the last stdout line, stop the session and exit.
CHILD = """
import json, os, sys
from pymapreduce_spark import io, session
io.JVM_ARCHIVE_DIR = sys.argv[1]
out = {"conf_dir_before": os.environ.get("SPARK_CONF_DIR"),
       "archive": session._archive_path()}
spark = session.get_spark(app_name="jvm-archive-test")
out["conf_dir_after"] = os.environ.get("SPARK_CONF_DIR")
jvm = spark.sparkContext._jvm
out["jvm_args"] = list(
    jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
out["classpath"] = jvm.java.lang.System.getProperty("java.class.path")
out["java"] = os.path.join(jvm.java.lang.System.getProperty("java.home"), "bin", "java")
pid = spark.sparkContext._gateway.proc.pid
out["jvm_pid"] = pid
with open(f"/proc/{pid}/maps") as fh:
    out["mapped"] = out["archive"] is not None and out["archive"] in fh.read()
%s
print(json.dumps(out), flush=True)
spark.stop()
"""

#: Reports each archive dump this child starts on stderr, with whether
#: its JVM was still running then.
REPORT_DUMPS = """
import subprocess
_run = subprocess.run
def _reported(cmd, *a, **k):
    if "-Xshare:dump" in cmd:
        print(f"dumping, jvm alive: {os.path.exists(f'/proc/{pid}')}", file=sys.stderr, flush=True)
    return _run(cmd, *a, **k)
subprocess.run = _reported
"""

#: Leaves by ``os._exit`` 0.5 s into the dump, as a watchdog thread
#: would, after it reports the pids of the dump it started on stderr.
EXIT_DURING_DUMP = """
import subprocess, threading
_run = subprocess.run
def _leave():
    with open(f"/proc/self/task/{os.getpid()}/children") as fh:
        print("dump pids:", fh.read().strip(), file=sys.stderr, flush=True)
    os._exit(3)
def _exit_soon(cmd, *a, **k):
    if "-Xshare:dump" in cmd:
        threading.Timer(0.5, _leave).start()
    return _run(cmd, *a, **k)
subprocess.run = _exit_soon
"""

#: A pid above the kernel's largest ``pid_max`` (2**22): never alive.
DEAD_PID = 2**22 + 1

#: Runs q1_pricing_summary and checks it against its DuckDB oracle.
CHECK_Q1 = """
from pymapreduce_spark.registry import ORACLES, QUERIES
from pymapreduce_spark.testing import compare_frames, make_duckdb
duck = make_duckdb(sys.argv[2])
compare_frames("q1_pricing_summary", QUERIES["q1_pricing_summary"](spark, sys.argv[2]),
               duck, ORACLES["q1_pricing_summary"])
out["q1_matches_oracle"] = True
"""


def _child_env(**extra) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=ROOT)
    env.update(extra)
    return env


def _start(archive_dir: str, sf_dir: str, extra: str = "", **env) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CHILD % extra, archive_dir, sf_dir],
        cwd=ROOT, env=_child_env(**env), text=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)


def _finish(child: subprocess.Popen) -> tuple[dict, str, str]:
    """(report, stdout, stderr) of a child that must succeed."""
    stdout, stderr = child.communicate(timeout=600)
    assert child.returncode == 0, stderr[-3000:]
    return json.loads(stdout.strip().splitlines()[-1]), stdout, stderr


def _run(archive_dir: str, sf_dir: str, extra: str = "", **env) -> dict:
    return _finish(_start(archive_dir, sf_dir, extra, **env))[0]


def _processes_naming(text: str) -> list[str]:
    """Command lines of the live processes that mention ``text``."""
    found = []
    for cmdline in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(cmdline, "rb") as fh:
                args = fh.read().decode(errors="replace")
        except OSError:
            continue
        if text in args:
            found.append(args.replace("\0", " "))
    return found


#: Files of an archive dir that a build removes: another install's
#: archive and log, and an archive of an older naming.
STALE_FILES = ("spark-89abcdef-1g.jsa", "spark-89abcdef-1g.jsa.log", "spark-3bcfdd49.jsa")


@pytest.fixture(scope="module")
def recorded(tmp_path_factory, sf_dir):
    """An archive dir filled by one recording child, with that child's
    (report, stdout, stderr). The dir starts with :data:`STALE_FILES`."""
    archive_dir = str(tmp_path_factory.mktemp("jvm_archive"))
    for name in STALE_FILES:
        with open(os.path.join(archive_dir, name), "wb") as fh:
            fh.write(b"stale")
    return archive_dir, _finish(_start(archive_dir, sf_dir, REPORT_DUMPS))


def test_recording_run_leaves_a_usable_archive(recorded):
    """The first child records its classes and, after its JVM exits
    (the child stops its session but leaves the JVM to its exit hook),
    dumps an archive the same java and classpath map with
    ``-Xshare:on`` (which fails where ``auto`` would fall back). No
    process of it is left, nothing follows its last stdout line, and
    the stale files the dir started with are gone."""
    archive_dir, (report, stdout, stderr) = recorded
    assert stderr.count("dumping, jvm alive: False\n") == 1, stderr[-3000:]
    archive = report["archive"]
    assert any(a.startswith("-XX:DumpLoadedClassList=") for a in report["jvm_args"])
    assert stdout.strip().splitlines()[-1] == json.dumps(report)
    assert os.listdir(archive_dir) and os.path.isfile(archive)
    assert not glob.glob(os.path.join(archive_dir, "*.classlist"))
    assert not glob.glob(os.path.join(archive_dir, "*.tmp"))
    assert not any(os.path.exists(os.path.join(archive_dir, n)) for n in STALE_FILES)
    assert _processes_naming(archive_dir) == []
    check = subprocess.run(
        [report["java"], "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
         "-cp", report["classpath"], "-version"],
        capture_output=True, text=True, timeout=120)
    assert check.returncode == 0, check.stdout + check.stderr


def test_archive_flag_survives_perfbench_java_options(recorded, sf_dir):
    """perfbench's ``--conf spark.driver.extraJavaOptions=-Xms1g`` comes
    after the builder's confs and would replace a builder's
    extraJavaOptions; the archive flag rides on defaultJavaOptions, so
    the JVM gets both and maps the archive."""
    report = _run(recorded[0], sf_dir, PYSPARK_SUBMIT_ARGS=PERFBENCH_SUBMIT_ARGS)
    assert "-Xms1g" in report["jvm_args"]
    assert f"-XX:SharedArchiveFile={report['archive']}" in report["jvm_args"]
    assert report["mapped"]


def test_truncated_archive_still_starts_a_correct_session(recorded, sf_dir, tmp_path):
    """An archive the JVM cannot use costs only the gain: under the
    default ``-Xshare:auto`` the session starts and q1 matches its
    oracle."""
    archive = recorded[1][0]["archive"]
    broken = tmp_path / os.path.basename(archive)
    with open(archive, "rb") as fh:
        broken.write_bytes(fh.read(1 << 20))
    report = _run(str(tmp_path), sf_dir, CHECK_Q1)
    assert report["archive"] == str(broken)
    assert f"-XX:SharedArchiveFile={broken}" in report["jvm_args"]
    assert report["q1_matches_oracle"]
    assert os.path.getsize(broken) == 1 << 20  # no rebuild over it


def test_conf_dir_with_active_files_gets_no_archive(sf_dir, tmp_path):
    """A conf dir that holds a file Spark reads is left in place: no
    archive flag, ``SPARK_CONF_DIR`` unchanged."""
    conf = tmp_path / "conf"
    conf.mkdir()
    shutil.copy(os.path.join(SPARK_CONF, "log4j2.properties.template"),
                conf / "log4j2.properties")
    report = _run(str(tmp_path / "jvm"), sf_dir, SPARK_CONF_DIR=str(conf))
    assert report["archive"] is None
    assert not any("SharedArchiveFile" in a or "DumpLoadedClassList" in a
                   for a in report["jvm_args"])
    assert report["conf_dir_before"] == report["conf_dir_after"] == str(conf)
    assert not os.path.exists(tmp_path / "jvm")


@pytest.mark.parametrize("templates_only", [False, True], ids=["unset", "templates"])
def test_conf_dir_is_restored_after_the_launch(recorded, sf_dir, tmp_path, templates_only):
    """``get_spark`` swaps a templates-only conf dir for an empty one
    for the launch only: after it returns, ``SPARK_CONF_DIR`` is back,
    unset included."""
    env = {}
    if templates_only:
        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "spark-defaults.conf.template").write_text("")
        env["SPARK_CONF_DIR"] = str(conf)
    report = _run(recorded[0], sf_dir, **env)
    assert report["mapped"]
    assert report["conf_dir_after"] == report["conf_dir_before"] == env.get("SPARK_CONF_DIR")


def test_two_recording_children_build_one_archive(sf_dir, tmp_path):
    """Two children that record at once (each waits until the other's
    JVM is up) dump one archive between them: the build lock lets one
    builder through, and a builder that finds the archive skips. Their
    sessions, which ran a Python task and so hold a connection to
    PySpark's accumulator server, run into the exit hook, which stops
    them without a traceback."""
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    wait_for_both = REPORT_DUMPS + f"""
import time
open(os.path.join({str(barrier)!r}, str(os.getpid())), "w").close()
while len(os.listdir({str(barrier)!r})) < 2:
    time.sleep(0.1)
spark.sparkContext.parallelize(range(4)).map(abs).count()  # a Python task
spark.stop = lambda: None
"""
    archive_dir = str(tmp_path / "jvm")
    children = [_start(archive_dir, sf_dir, wait_for_both) for _ in range(2)]
    results = [_finish(c) for c in children]
    for report, _, _ in results:
        assert any(a.startswith("-XX:DumpLoadedClassList=") for a in report["jvm_args"])
    assert sum(err.count("dumping, jvm alive: False\n") for _, _, err in results) == 1
    assert not any("Traceback" in err for _, _, err in results)
    assert glob.glob(os.path.join(archive_dir, "*.jsa")) == [results[0][0]["archive"]]
    assert not glob.glob(os.path.join(archive_dir, "*.classlist"))
    assert _processes_naming(archive_dir) == []


def test_new_artifact_root_keeps_the_archive(tmp_path, monkeypatch):
    """Making a fixture's artifact root deletes every entry of the
    artifacts dir that is not a fixture root, but for the archive's."""
    monkeypatch.setattr(pio, "_ARTIFACTS_DIR", str(tmp_path / "artifacts"))
    archive = os.path.join(pio._ARTIFACTS_DIR, os.path.basename(pio.JVM_ARCHIVE_DIR),
                           "spark-0123abcd.jsa")
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as fh:
        fh.write(b"archive")
    old_layout = os.path.join(pio._ARTIFACTS_DIR, "sf0.01")
    os.makedirs(old_layout)
    fixture = tmp_path / "sf"
    fixture.mkdir()
    pio.artifact_path(str(fixture))
    assert not os.path.exists(old_layout)
    with open(archive, "rb") as fh:
        assert fh.read() == b"archive"


def test_failed_dump_stops_later_recording(sf_dir, tmp_path):
    """A dump that fails (here: a timeout of 0 s) leaves its error in
    ``<archive>.failed`` beside the log, and no archive. A later child
    then neither records nor dumps, and keeps its conf dir."""
    archive_dir = str(tmp_path / "jvm")
    first = _run(archive_dir, sf_dir, REPORT_DUMPS + "session._DUMP_TIMEOUT_S = 0\n")
    archive = first["archive"]
    with open(f"{archive}.failed") as fh:
        assert fh.read().startswith("TimeoutExpired")
    assert os.path.isfile(f"{archive}.log")
    assert not os.path.exists(archive)
    assert not glob.glob(os.path.join(archive_dir, "*.tmp"))
    report, _, stderr = _finish(_start(archive_dir, sf_dir, REPORT_DUMPS))
    assert report["archive"] == archive
    assert not any("SharedArchiveFile" in a or "DumpLoadedClassList" in a
                   for a in report["jvm_args"])
    assert "dumping" not in stderr
    assert os.path.join(archive_dir, "conf") not in report["classpath"]
    assert not glob.glob(os.path.join(archive_dir, "*.classlist"))


def test_dump_dies_with_its_process(sf_dir, tmp_path):
    """A process that leaves by ``os._exit`` during its dump (as a
    watchdog thread makes it) takes the dump with it: no dump process
    outlives it."""
    child = _start(str(tmp_path / "jvm"), sf_dir, EXIT_DURING_DUMP)
    _, stderr = child.communicate(timeout=600)
    assert child.returncode == 3, stderr[-3000:]
    line = next(line for line in stderr.splitlines() if line.startswith("dump pids:"))
    pids = line.split()[2:]
    assert pids

    def running(pid: str) -> bool:  # a zombie's cmdline is empty
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                return bool(fh.read())
        except OSError:
            return False

    # The dump of a small class list takes a few seconds: a dump left
    # running is still there after the 1 s a killed one gets to go.
    deadline = time.monotonic() + 1
    while any(map(running, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not any(map(running, pids))
    assert _processes_naming(str(tmp_path / "jvm")) == []


def test_build_prunes_what_no_build_reads(tmp_path, monkeypatch):
    """The builder removes the files of another install's archives, the
    class lists and temporary dumps of dead processes and files of no
    known name; it keeps this install's archives of any heap size and
    the files of live processes."""
    archive = str(tmp_path / "spark-0123abcd-1g.jsa")
    keep = [archive, f"{archive}.lock", f"{archive}.log",
            str(tmp_path / "spark-0123abcd-8g.jsa"),
            f"{archive}.{os.getpid()}.classlist", f"{archive}.{os.getpid()}.tmp"]
    drop = [f"{archive}.{DEAD_PID}.classlist", f"{archive}.{DEAD_PID}.tmp",
            str(tmp_path / "spark-89abcdef-1g.jsa"),
            str(tmp_path / "spark-89abcdef-1g.jsa.log"),
            str(tmp_path / "spark-89abcdef-1g.jsa.failed"),
            str(tmp_path / "spark-89abcdef-1g.jsa.lock"),
            str(tmp_path / "spark-3bcfdd49.jsa")]
    for path in keep + drop:
        with open(path, "wb") as fh:
            fh.write(b"x")
    (tmp_path / "conf").mkdir()
    session._prune_archive_dir(archive)
    assert sorted(os.listdir(tmp_path)) == sorted(["conf", *map(os.path.basename, keep)])
