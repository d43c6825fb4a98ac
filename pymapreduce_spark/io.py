"""Fixture IO: path → typed DataFrame, owning the events nanos fix.

Every query reads fixture tables through :func:`load_table`; nothing else
in the engine calls ``spark.read.parquet`` on fixtures directly. This is
what keeps the SURVEY §1.2 gotcha (ns timestamps in ``events.parquet``)
centralized: with ``spark.sql.legacy.parquet.nanosAsLong=true`` the ``ts``
column arrives as long nanoseconds and is converted here — via integer
division, not float, to avoid ulp drift — to a microsecond TimestampType
that matches DuckDB's ``ts::TIMESTAMP`` truncation.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import tempfile
import threading
import zlib
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymapreduce_spark.session import ensure_runtime_configs

T = TypeVar("T")

#: All fixture tables (TESTDATA.md / FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Split-layout cache (ingest-time compaction, inverted): the fixture
#: ships each table as ONE parquet file with ONE row group, and Spark can
#: only split parquet at row-group boundaries — so every scan of the big
#: tables is a single task no matter how many cores the executor has.
#: Tables at or above _SPLIT_MIN_BYTES are re-laid-out once per sf into a
#: multi-file copy under .artifacts/<sf>-<hash>/split/ sized ~_SPLIT_TARGET_BYTES
#: per file; all queries then scan in parallel. This is the local-mode
#: mirror of what a 100 TB ingest does anyway (write splittable,
#: right-sized files); at real scale the source layout already has many
#: row groups and this cache is a no-op.
_SPLIT_MIN_BYTES = 1_500_000
_SPLIT_TARGET_BYTES = 768 * 1024
_SPLIT_MAX_FILES = 16

#: Bytes-on-disk underestimate the work a scan FEEDS for some tables:
#: every documents row explodes into ~30 token rows downstream, and
#: embeddings rows feed O(n²)/HOF vector kernels. The effective size
#: (size × multiplier) drives the split decision so these tables scan
#: in parallel too — measured ~2× on BM25/ngram-shaped text queries at
#: sf0.1, which otherwise tokenize 5 000 docs on ONE core (the 594 KB
#: file sits under the byte threshold). Multipliers are tuned so sf0.1
#: lands near 8 files: interleaved A/B showed 8-way matches raw-scan
#: cost on trivial single-pass queries while capturing the full win on
#: HOF-heavy ones; 16-way taxed the trivial class ~0.1 s of pure task
#: overhead.
_WORK_MULTIPLIER = {"documents": 12, "embeddings": 8}
_ARTIFACTS_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".artifacts")
_MARKER = "_READY"
_SOURCE = "_SOURCE"
#: The only root name artifact_path makes: ``<basename>-<8 hex>``.
_ROOT_NAME = re.compile(r".+-[0-9a-f]{8}")
#: The driver JVM's class archive (``session.get_spark``): the one
#: entry of the artifacts dir that belongs to no fixture.
JVM_ARCHIVE_DIR = os.path.join(_ARTIFACTS_DIR, "jvm")

# The fixture-identity memo: (kind, source paths[, applicationId]) ->
# (stamp, value). See fixture_memo.
_MEMO: dict[tuple, tuple[str, object]] = {}
_MEMO_LOCK = threading.Lock()
_BUILD_LOCKS: dict[str, threading.Lock] = {}
# The last two stable_scratch epochs each thread got, by (scratch dir,
# thread id). See stable_scratch.
_SCRATCH_HELD: dict[tuple[str, int], tuple[str, ...]] = {}
_SCRATCH_LOCK = threading.Lock()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def fixture_stamp(path: str) -> str:
    """Identity stamp for a fixture file: the one key of every derived
    artifact and memo in the engine. Nothing outside this module calls
    it; derived data goes through :func:`derived_artifact` (split
    layout, partitioned copy, streaming replay dir, scratch JSONL/CSV)
    or :func:`fixture_memo` (loaded tables, bucketed catalog tables,
    footer row counts, the embeddings canonicalization gate, the
    semdedup probe), both keyed by the absolute source path plus this
    stamp. ``size:mtime_ns`` alone is spoofable by
    an mtime-preserving restore (``cp -p`` / ``tar -x`` / LFS checkout)
    that happens to match the old size — so the stamp also folds in the
    inode and a CRC of the file's head+tail 64 KiB (the parquet footer
    lives in the tail, so schema/row-group changes always land there;
    data edits almost always move the size). A directory table folds in
    the size, mtime and inode of every file under it, since rewriting a
    part file in place leaves the directory's own stat unchanged.
    Raises OSError when the path is unreadable — callers decide their
    own fallback."""
    st = os.stat(path)
    crc = 0
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            crc = zlib.crc32(fh.read(65536))
            if st.st_size > 131072:
                fh.seek(-65536, os.SEEK_END)
            crc = zlib.crc32(fh.read(65536), crc)
    elif os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                fs = os.stat(os.path.join(root, f))
                entry = f"{root}/{f}:{fs.st_size}:{fs.st_mtime_ns}:{fs.st_ino}"
                crc = zlib.crc32(entry.encode(), crc)
    return f"{st.st_size}:{st.st_mtime_ns}:i{st.st_ino}:c{crc:08x}"


def _sources(sf_dir: str, tables) -> tuple[tuple[str, ...], str]:
    """(absolute paths, combined stamp) of a fixture dir's tables."""
    paths = tuple(os.path.abspath(table_path(sf_dir, t)) for t in tables)
    return paths, "|".join(fixture_stamp(p) for p in paths)


def fixture_memo(
    kind: str,
    sf_dir: str,
    tables,
    compute: Callable[[], T],
    spark: SparkSession | None = None,
) -> T:
    """In-process memo of ``compute()`` for data derived from fixture
    ``tables`` of ``sf_dir``. One entry per (kind, absolute source
    paths), plus the applicationId when ``spark`` is given — pass it
    when the value is bound to a Spark context (a DataFrame, catalog
    tables), never for plain driver-side data. The entry holds the
    sources' :func:`fixture_stamp`; a new stamp recomputes and replaces
    the old entry, so a fixture rewritten in place is never served
    stale and the memo stays bounded.

    ``compute`` runs outside the lock: a concurrent warm-up never waits
    behind another op's Spark job (two first callers may both compute;
    the last store wins). A raising ``compute`` stores nothing. An
    unreadable source skips the memo."""
    try:
        paths, stamp = _sources(sf_dir, tables)
    except OSError:
        return compute()
    app = spark.sparkContext.applicationId if spark is not None else None
    key = (kind, paths, app)
    with _MEMO_LOCK:
        hit = _MEMO.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = compute()
    with _MEMO_LOCK:
        _MEMO[key] = (stamp, value)
    return value


def artifact_path(sf_dir: str, *parts: str) -> str:
    """On-disk home of data derived from ``sf_dir``:
    ``.artifacts/<basename>-<hash of the absolute path>/<parts>``. The
    hash keeps two fixture dirs that share a basename apart."""
    src = os.path.abspath(sf_dir)
    tag = f"{os.path.basename(src) or 'sf'}-{zlib.crc32(src.encode()):08x}"
    root = os.path.join(_ARTIFACTS_DIR, tag)
    if not os.path.isdir(root):
        _new_root(root, src)
    return os.path.join(root, *parts)


def _new_root(root: str, src: str) -> None:
    """Create an artifact root that records its source dir, and delete
    the roots of source dirs that no longer exist: every temporary
    fixture (each test run's copies) gets a root of its own, which
    would otherwise outlive it. Dirs of any other name (an older
    layout) are deleted too, but for the JVM's class archive dir; a
    root without ``_SOURCE`` yet is kept, because a concurrent first
    caller may be creating it."""
    with contextlib.suppress(OSError):
        for tag in os.listdir(_ARTIFACTS_DIR):
            old = os.path.join(_ARTIFACTS_DIR, tag)
            if tag == os.path.basename(JVM_ARCHIVE_DIR):
                continue
            if _ROOT_NAME.fullmatch(tag):
                recorded = _read_marker(os.path.join(old, _SOURCE))
                if not recorded or os.path.isdir(recorded):
                    continue
            shutil.rmtree(old, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.makedirs(root, exist_ok=True)
        _write_atomic(os.path.join(root, _SOURCE), src)


def _read_marker(marker: str) -> str | None:
    try:
        with open(marker) as fh:
            return fh.read()
    except OSError:
        return None


def _write_atomic(path: str, text: str) -> None:
    """Write via rename, so a concurrent reader never sees a partial
    file."""
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def derived_artifact(
    sf_dir: str,
    name: str,
    tables,
    build: Callable[[str], None],
    version: str = "",
) -> str:
    """Directory ``artifact_path(sf_dir, name)`` holding ``build(path)``'s
    output for the current stamps of the source ``tables`` (plus
    ``version``, for a layout change the sources cannot show). A marker
    file in the directory records the stamp it was built for; any other
    stamp rebuilds. Builders hold a per-path lock, and the marker is
    written only after ``build`` returns, so no caller sees a half-built
    directory as ready and a raising build leaves no marker. Raises
    OSError when a source is unreadable or the directory unwritable."""
    path = artifact_path(sf_dir, name)
    marker = os.path.join(path, _MARKER)
    stamp = "|".join([_sources(sf_dir, tables)[1], version])
    if _read_marker(marker) == stamp:
        return path
    with _MEMO_LOCK:
        lock = _BUILD_LOCKS.setdefault(path, threading.Lock())
    with lock:
        if _read_marker(marker) == stamp:
            return path
        with contextlib.suppress(FileNotFoundError):
            os.remove(marker)
        os.makedirs(path, exist_ok=True)
        build(path)
        _write_atomic(marker, stamp)
    return path


def _fix_events(df: DataFrame) -> DataFrame:
    """Convert the ns-as-long ``ts`` column to a proper µs timestamp.

    ``ts div 1000`` is integer (floor) division on the long nanos value —
    exact, and identical to DuckDB's ns→µs cast truncation for the
    positive-epoch fixture range (2024). A float division here would lose
    precision (2024 epoch-nanos ≈ 1.7e18 exceeds double's 53-bit mantissa).
    """
    dtypes = dict(df.dtypes)
    if dtypes.get("ts") == "bigint":
        # Session tz is pinned UTC (session.py) so the zoned→NTZ cast is
        # wall-clock-preserving for the micros value.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    elif dtypes.get("ts") == "timestamp":
        # Legacy zoned encodings normalize to NTZ under the pinned-UTC
        # session tz (wall-clock-preserving).
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # timestamp_ntz (newer fixtures): already the engine's canonical type.
    #
    # Round-8 clock/timezone doctrine: ``ts`` is NAIVE WALL-CLOCK DATA
    # (exactly what the parquet stores and what DuckDB's TIMESTAMP is),
    # so it stays TimestampNTZType end-to-end. The zoned TimestampType
    # this used to cast to carries an instant whose *collection* back to
    # Python goes through datetime.fromtimestamp — i.e. the DRIVER
    # PROCESS's OS timezone — so every checked timestamp output column
    # silently shifted by the host's UTC offset on a non-UTC machine
    # (measured: TZ=Asia/Kathmandu shifts collect() by +05:45 while the
    # DuckDB oracle stays naive). NTZ collection is tz-free by
    # construction: no session tz, no OS tz, no DST gaps, ever.
    return df


def _split_layout(spark: SparkSession, sf_dir: str, name: str) -> str | None:
    """Return the path of the table's split-layout copy, materializing it
    on first use; None when the raw file is small enough to leave alone
    or the cache directory is unusable."""
    raw = table_path(sf_dir, name)
    try:
        eff_size = os.path.getsize(raw) * _WORK_MULTIPLIER.get(name, 1)
    except OSError:
        return None
    if eff_size < _SPLIT_MIN_BYTES:
        return None
    n_files = max(2, min(_SPLIT_MAX_FILES, eff_size // _SPLIT_TARGET_BYTES))

    def build(path: str) -> None:
        df = spark.read.parquet(raw)
        if name == "events":
            df = _fix_events(df)  # cache the normalized timestamps
        df.repartition(n_files).write.mode("overwrite").parquet(path)

    # n_files is part of the key: a re-tuned split sizing invalidates
    # the copy just as a regenerated fixture does
    try:
        return derived_artifact(
            sf_dir, os.path.join("split", name), (name,), build, f"n{n_files}"
        )
    except Exception:  # pragma: no cover - read-only FS etc.
        return None


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    split = _split_layout(spark, sf_dir, name)
    df = spark.read.parquet(split or table_path(sf_dir, name))
    if name == "events":
        df = _fix_events(df)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a typed DataFrame.

    Plain ``spark.read.parquet`` — schema comes from the parquet footer, so
    Catalyst gets real column types for pushdown/pruning. Only ``events``
    needs post-read normalization. Large single-row-group fixture files
    are served from the split-layout cache (see :data:`_SPLIT_MIN_BYTES`)
    so scans parallelize. The analyzed relation (file listing + footer
    schema) is memoized per session and fixture stamp, saving
    ~0.1-0.3 s of re-listing per query; a fixture rewritten in place
    gets a fresh read instead of the stale file index.
    """
    # Heal BEFORE the memo lookup: the self-heal contract is per-QUERY,
    # and a query whose every load_table is a cache hit must still get
    # it. Round-8 clock axis catch: with the heal on the miss path
    # only, a hostile session timezone set between queries survived
    # into any query whose tables were already cached — fn_date's
    # DATE→TIMESTAMP epoch resolved to midnight-Kathmandu, and the
    # streaming window ops aligned buckets to :45 (the sweep's --only
    # single-query runs all passed, which is exactly the signature of
    # an ordering-dependent defect).
    ensure_runtime_configs(spark)
    return fixture_memo(
        "table",
        sf_dir,
        (name,),
        lambda: _read_table(spark, sf_dir, name),
        spark=spark,
    )


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def read_back(
    spark: SparkSession, path: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """Read a directory this engine just wrote, with the writer's schema
    made EXPLICIT. An empty write leaves a directory with no part files
    (or, if zero batches ran, no directory at all) — footer inference
    then throws UNABLE_TO_INFER_SCHEMA, so every sink→read-back would
    crash on legitimately empty data (an empty route, day, or filter
    result is routine at 100 TB). Explicit schema + an ensured directory
    returns an honest empty frame instead. Works for partitioned layouts
    too: declare partition columns in the schema and Spark casts the
    directory values to the declared types."""
    os.makedirs(path, exist_ok=True)
    return spark.read.schema(schema).format(fmt).load(path)


def partitioned_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    part_col: str,
    part_expr,
) -> DataFrame:
    """Hive-partitioned copy of a fixture table (directory per
    ``part_col`` value, computed by ``part_expr``), materialized once
    per fixture stamp by :func:`derived_artifact` exactly like the split
    cache — a regenerated fixture invalidates the copy instead of
    serving stale data.

    This is the layout a 100 TB lake already has (date-partitioned
    directories); materializing it locally lets partition-pruning
    operators exercise the REAL pruned-scan path (PartitionFilters /
    dynamicpruning in the physical plan) rather than simulate it.
    Falls back to the unpartitioned table (with ``part_col`` appended)
    when the artifacts dir is unwritable — results stay identical, only
    the pruning physics is lost."""
    fallback = load_table(spark, sf_dir, name).withColumn(
        part_col, part_expr
    )
    # The key includes a fingerprint of the partition EXPRESSION, not
    # just the source file: a caller that redefines part_expr (say year
    # -> year*100+month) under the same table/part_col name must
    # invalidate the cached layout.
    try:
        expr_fp = str(part_expr._jc)
    except Exception:
        expr_fp = str(part_expr)
    try:
        path = derived_artifact(
            sf_dir,
            os.path.join("part", f"{name}_by_{part_col}"),
            (name,),
            lambda p: fallback.write.partitionBy(part_col)
            .mode("overwrite")
            .parquet(p),
            f"e{zlib.crc32(expr_fp.encode()):08x}",
        )
    except Exception:  # pragma: no cover - read-only FS etc.
        return fallback
    # schema-explicit (read_back): an empty source writes a partitioned
    # dir with zero part files, which footer inference cannot read
    return read_back(spark, path, fallback.schema)


def stable_scratch(sf_dir: str, name: str) -> str:
    """Bounded scratch location for operators whose RESULT lazily reads
    files they wrote (compaction read-back, mergeSchema, JSONL round
    trip, CDC state): a fixed per-(sf, operator) directory under
    ``.artifacts``, wiped at each invocation start. Repeated bench /
    differential-suite invocations overwrite the same footprint instead
    of leaking a fresh ``tempfile.mkdtemp`` copy of the table per call;
    the files outlive the call so the returned DataFrame's deferred
    scan still works. Falls back to a plain mkdtemp when the artifacts
    dir is unwritable (read-only checkout) — correctness is unchanged,
    only the bounded-footprint property is lost.

    Versioned epochs: each invocation gets a fresh ``<name>/<epoch>``
    subdirectory, and sibling epochs are deleted EXCEPT the caller's
    newest one and the two newest of every other thread of this
    process — so a DataFrame returned by a thread's PREVIOUS invocation
    of the same operator stays lazily readable while its new invocation
    runs (the interleaved A/B pattern holds exactly one result from
    each arm), whichever threads call meanwhile, and the footprint
    stays bounded at two epochs per calling thread instead of an
    unmanaged mkdtemp per call."""
    base = artifact_path(sf_dir, "scratch", name)
    try:
        with _SCRATCH_LOCK:
            os.makedirs(base, exist_ok=True)
            me = (base, threading.get_ident())
            held = {
                p
                for key, paths in _SCRATCH_HELD.items()
                if key[0] == base
                for p in (paths[-1:] if key == me else paths)
            }
            epochs = sorted(
                (int(e) for e in os.listdir(base) if e.isdigit())
            )
            for e in epochs:
                old = os.path.join(base, str(e))
                if old not in held:
                    shutil.rmtree(old, ignore_errors=True)
            path = os.path.join(base, str(epochs[-1] + 1 if epochs else 0))
            os.makedirs(path, exist_ok=True)
            _SCRATCH_HELD[me] = _SCRATCH_HELD.get(me, ())[-1:] + (path,)
    except OSError:
        return tempfile.mkdtemp(prefix=f"{name}_")
    return path


@contextlib.contextmanager
def scratch_dir(prefix: str = "pmr_"):
    """Self-cleaning temp directory for operators that must exercise a
    real write→read-back sink path (multi-output, compaction,
    write-audit-publish, CDC replay). Bench's median-of-3 and the
    295-query differential suite re-invoke those operators repeatedly;
    an unmanaged ``tempfile.mkdtemp`` per call leaks hundreds of
    parquet copies of lineitem/orders/events into /tmp per session.
    The result DataFrame must be fully materialized (collected or
    re-created from local rows) before the ``with`` block exits — the
    files are gone afterwards."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from the parquet footer — no
    Spark job, and memoized per fixture stamp. Used by operator scale
    guards (e.g. the kNN tile gate) where only the corpus size matters,
    not the data."""

    def count() -> int:
        import pyarrow.parquet as pq

        path = table_path(sf_dir, name)
        if os.path.isdir(path):
            # Real tables are DIRECTORIES of part files (possibly hive-
            # partitioned); ParquetFile only opens a single file. The
            # dataset API counts rows from footer metadata across the
            # whole tree without reading data.
            import pyarrow.dataset as pads

            return pads.dataset(path, format="parquet").count_rows()
        return pq.ParquetFile(path).metadata.num_rows

    return fixture_memo("row_count", sf_dir, (name,), count)
