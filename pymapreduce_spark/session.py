"""SparkSession factory and the engine's pinned runtime configuration.

All configs here are justified in SURVEY.md §4.3. The critical one is
``spark.sql.legacy.parquet.nanosAsLong``: the fixture ``events.parquet``
stores ``ts`` as parquet INT64 TIMESTAMP(NANOS) which Spark 4.x refuses to
read by default ([PARQUET_TYPE_ILLEGAL]); with the flag the column arrives
as a long that :mod:`pymapreduce_spark.io` converts to a proper timestamp.

Every query entry point calls :func:`ensure_runtime_configs` defensively so
the engine works inside a driver-created SparkSession it did not build.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import os
import re
import shutil
import subprocess
import sys
import zlib

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: The directory that holds the ``pymapreduce_spark`` package. Python
#: workers need it on their path to unpickle engine functions and to
#: start the engine's worker daemon, whatever the driver's cwd is.
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Configs that are settable on a live session (spark.conf.set).
RUNTIME_CONFS: dict[str, str] = {
    # Oracle comparability: DuckDB timestamps are naive/UTC.
    "spark.sql.session.timeZone": "UTC",
    # Required to read events.parquet (ns timestamps) at all. SURVEY §1.2.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for pandas UDFs / toPandas — the only sane Python path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # broadcast conversion from runtime stats. Core of the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Right-sized for local test scale; AQE coalesces below it anyway.
    # (Streaming state ops can't use AQE, so the static value matters
    # there most — 200 default partitions on 100 k rows is pure overhead.)
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # AQE's coalesce target is a bytes-per-task knob: the 64 MB default
    # assumes cluster-scale shuffles and collapses this fixture's few-MB
    # shuffles to ONE post-shuffle task, idling 31 of 32 cores in every
    # window/join reduce stage. 2 MB keeps reduce stages parallel at
    # local scale (measured 20-25% off win_*/sessionize/q3 at sf0.1);
    # on a real cluster leave the default via the env override.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_ADVISORY_BYTES", "2097152"
    ),
}

#: Optimizer rules the engine excludes (merged into any exclusions the
#: hosting session already carries, never clobbered).
#:
#: InferFiltersFromGenerate duplicates every generator expression into a
#: ``Filter size(gen) > 0`` that predicate pushdown then rewrites through
#: the projection chain — substituting hoisted aliases back into lambda
#: bodies. For explode-over-transform pipelines (shingles, bigrams, BPE
#: pairs) that turns a hoisted ``split(text)`` into a per-iteration split
#: INSIDE the higher-order function: O(words x bytes) per document,
#: interpreted, at the scan. A single ~500 KB document (round-8 huge_doc
#: axis) took llm_boilerplate_share from ~6 s to >15 min. Generate
#: already skips empty arrays for non-outer explode, so the inferred
#: filter never changes results — it only re-evaluates the generator
#: twice per row (and quadratically when pushdown inlines the hoist).
EXCLUDED_OPTIMIZER_RULES: tuple[str, ...] = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
)

#: Configs that must be set before the JVM session exists.
BUILD_CONFS: dict[str, str] = {
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Python workers re-read zip import caches only when the archive
    # changed (see worker_daemon): ~0.1-0.2 s of CPU off every UDF task.
    "spark.python.daemon.module": "pymapreduce_spark.worker_daemon",
}


def ensure_runtime_configs(spark: SparkSession) -> SparkSession:
    """Idempotently pin runtime configs on an existing session.

    Safe to call per-query: ``spark.conf.set`` on an already-set value is a
    no-op, and configs a given Spark build rejects are skipped rather than
    fatal (they only degrade, never corrupt, behavior).
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - config not recognized
            pass
    try:
        current = spark.conf.get("spark.sql.optimizer.excludedRules", None)
        have = [r for r in (current or "").split(",") if r.strip()]
        merged = have + [r for r in EXCLUDED_OPTIMIZER_RULES if r not in have]
        if merged != have or current is None:
            spark.conf.set(
                "spark.sql.optimizer.excludedRules", ",".join(merged)
            )
    except Exception:  # pragma: no cover - config not recognized
        pass
    return spark


def get_spark(
    app_name: str = "pymapreduce-spark",
    master: str | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession with pinned configs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no active
    session exists; an already-running session is reused and only its
    runtime-settable configs and its workers' ``PYTHONPATH`` are adjusted.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    for key, value in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(key, value)
    with _class_archive(builder):
        spark = builder.getOrCreate()
    _put_engine_on_worker_path(spark)
    return ensure_runtime_configs(spark)


def _put_engine_on_worker_path(spark: SparkSession) -> None:
    """Prepend :data:`ENGINE_ROOT` to the Python workers' ``PYTHONPATH``.

    ``SparkContext.environment`` is PySpark's copy of the
    ``spark.executorEnv.*`` confs, shipped with every Python function it
    creates. Merging into it after start keeps a value set by
    spark-defaults, ``--conf`` or the builder, which a build-time conf
    would overwrite.
    """
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ENGINE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([ENGINE_ROOT, *paths])


#: Longest the class archive's dump may run at interpreter exit; it
#: takes ~21 s for the class list of a benchmark run.
_DUMP_TIMEOUT_S = 60
#: Longest the exit hook waits for a still-running JVM to exit.
_JVM_EXIT_TIMEOUT_S = 60
#: The files of the archive dir: ``spark-<install>-<heap>.jsa``, then
#: nothing (the archive), ``.lock``, ``.log`` or ``.failed``, or
#: ``.<pid>.classlist`` / ``.<pid>.tmp`` of the process that writes it.
_ARCHIVE_FILE = re.compile(
    r"spark-(?P<install>[0-9a-f]{8})-\w+\.jsa"
    r"(?:\.(?P<pid>\d+)\.(?:classlist|tmp)|\.(?:lock|log|failed))?")
#: Runs ``argv[2:]`` in its own place with a SIGKILL due when its parent,
#: the process ``argv[1]``, dies (Linux ``PR_SET_PDEATHSIG`` survives
#: the exec). So a dump dies with the process that started it, also one
#: that leaves by ``os._exit`` or is killed.
_DIE_WITH_PARENT = """
import ctypes, os, signal, sys
if sys.platform.startswith("linux"):
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)
    if os.getppid() != int(sys.argv[1]):
        sys.exit("parent gone")
os.execv(sys.argv[2], sys.argv[2:])
"""


@contextlib.contextmanager
def _class_archive(builder: SparkSession.Builder):
    """Start the JVM that ``builder`` is about to launch from a static
    class-data-sharing (AppCDS) archive of the classes a previous run
    loaded, or record those classes for one.

    With the archive, the JVM maps the parsed and verified classes
    instead of loading ~16 k classes from the jars (``get_spark`` went
    from ~2.7 s to ~1.3 s on a 4-core VM, ``local[4]``, 1 GB heap).
    Without it, the JVM writes its loaded-class list
    (``-XX:DumpLoadedClassList``), and at interpreter exit, once the JVM
    is gone, :func:`_build_archive` dumps the archive. Under the default
    ``-Xshare:auto`` an archive the JVM cannot use (truncated, other
    heap, other classpath) is skipped without an error.

    The flag goes through ``spark.driver.defaultJavaOptions``, which the
    launcher puts before ``spark.driver.extraJavaOptions``: a caller's
    ``--conf spark.driver.extraJavaOptions`` would replace a builder
    value. The dump refuses a non-empty directory on the classpath, and
    the launcher puts the conf dir first on it. So for the launch only,
    a conf dir that holds nothing but ``*.template`` files (which Spark
    never reads) is swapped for an empty one. Nothing is done when this
    process does not launch the JVM (one is running, or
    ``PYSPARK_GATEWAY_PORT`` names one), the conf dir is in use, or a
    dump of this archive failed (``<archive>.failed``): a failure that
    repeats would otherwise cost every later process its dump at exit."""
    archive = _archive_path()
    recording = archive is not None and not os.path.isfile(archive)
    if archive is None or recording and os.path.exists(f"{archive}.failed"):
        yield
        return
    classlist = f"{archive}.{os.getpid()}.classlist"
    builder.config("spark.driver.defaultJavaOptions",
                   f"-XX:DumpLoadedClassList={classlist}" if recording
                   else f"-XX:SharedArchiveFile={archive}")
    empty_conf = os.path.join(os.path.dirname(archive), "conf")
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        yield
    finally:
        if conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    if recording:
        gateway = SparkContext._gateway
        system = gateway.jvm.java.lang.System
        java = os.path.join(system.getProperty("java.home"), "bin", "java")
        atexit.register(_build_archive, gateway.proc, java,
                        system.getProperty("java.class.path"), classlist, archive)


def _archive_path() -> str | None:
    """Where the archive for the JVM that PySpark would launch now lives
    (it need not exist yet), or None when this process launches no JVM
    or the conf dir holds a file Spark reads. The name is
    ``spark-<install>-<heap>.jsa``: ``install`` is keyed by the java
    binary and the jars Spark puts on the classpath, so a changed
    install records a new archive, and ``heap`` is the driver heap.
    Makes the archive's dir and the empty conf dir in it."""
    from pymapreduce_spark.io import JVM_ARCHIVE_DIR  # io imports this module

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    try:
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        jars = sorted((e.name, e.stat().st_size)
                      for e in os.scandir(os.path.join(spark_home, "jars")))
        java = os.path.realpath(java or "")
        st = os.stat(java)
        os.makedirs(os.path.join(JVM_ARCHIVE_DIR, "conf"), exist_ok=True)
    except OSError:
        return None
    install = zlib.crc32(repr((java, st.st_size, st.st_mtime_ns, jars)).encode())
    heap = re.sub(r"\W", "_", BUILD_CONFS["spark.driver.memory"])
    return os.path.join(JVM_ARCHIVE_DIR, f"spark-{install:08x}-{heap}.jsa")


def _build_archive(jvm: subprocess.Popen, java: str, classpath: str,
                   classlist: str, archive: str) -> None:
    """At interpreter exit: stop a session still running (so PySpark's
    accumulator server sees no dropped connection) and wait for the
    recording JVM to exit (closing its stdin ends PySpark's gateway),
    then dump ``archive`` from the class list it wrote, unless another
    process holds the build lock or the archive exists.

    The builder first removes what no build will read again
    (:func:`_prune_archive_dir`). The dump writes a temporary name that
    replaces ``archive`` only when complete, runs for at most
    :data:`_DUMP_TIMEOUT_S`, dies with this process and logs to
    ``<archive>.log``, never to this process's stdout. A dump that
    fails writes its error to ``<archive>.failed``, after which no
    process records or dumps this archive again."""
    try:
        if jvm.poll() is None:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            jvm.stdin.close()
            try:
                jvm.wait(timeout=_JVM_EXIT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        # flock, not an O_EXCL file: the kernel drops the lock of a
        # builder that is killed, where a stale file would block every
        # later build.
        with open(f"{archive}.lock", "w") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                return
            _prune_archive_dir(archive)
            if os.path.isfile(archive) or not os.path.isfile(classlist):
                return
            _dump(java, classpath, classlist, archive)
    except (OSError, subprocess.SubprocessError):
        pass
    finally:
        with contextlib.suppress(OSError):
            os.remove(classlist)


def _dump(java: str, classpath: str, classlist: str, archive: str) -> None:
    """Dump ``archive`` from ``classlist``, or write why it failed to
    ``<archive>.failed``."""
    tmp = f"{archive}.{os.getpid()}.tmp"
    try:
        with open(f"{archive}.log", "w") as log:
            subprocess.run(
                [sys.executable, "-c", _DIE_WITH_PARENT, str(os.getpid()),
                 java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
                 f"-XX:SharedArchiveFile={tmp}", "-cp", classpath],
                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
                timeout=_DUMP_TIMEOUT_S, check=True)
        os.replace(tmp, archive)
    except (OSError, subprocess.SubprocessError) as exc:
        with contextlib.suppress(OSError), open(f"{archive}.failed", "w") as fh:
            fh.write(f"{type(exc).__name__}: {exc}\n")
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)


def _prune_archive_dir(archive: str) -> None:
    """Remove the files of the archive dir that no build will read
    again: every file of another install's archives (another java or
    jar set), the class lists and temporary dumps of processes that
    died before their exit hook ended, and files of no known name. The
    archives of this install's other heap sizes stay."""
    folder = os.path.dirname(archive)
    install = _ARCHIVE_FILE.fullmatch(os.path.basename(archive))["install"]
    for entry in os.scandir(folder):
        if not entry.is_file():
            continue
        name = _ARCHIVE_FILE.fullmatch(entry.name)
        if name is None or (not _alive(int(name["pid"])) if name["pid"]
                            else name["install"] != install):
            with contextlib.suppress(OSError):
                os.remove(entry.path)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's live process
        return True
    return True
