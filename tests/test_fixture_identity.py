"""Derived data follows the fixture's identity, not its name.

Every memo and on-disk artifact derived from a fixture is keyed by the
absolute source path plus ``io.fixture_stamp`` through two helpers in
``io.py`` (``fixture_memo``, ``derived_artifact``). These tests pin the
wrong answers the earlier name-keyed memos gave — a fixture rewritten
in place, a view set left on the last dir registered, two dirs sharing
a basename — plus the helpers' concurrency and failure contracts, and a
source scan that keeps the keying in ``io.py``.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import pymapreduce_spark  # noqa: F401  (registers operators)
from pymapreduce_spark import io as pio
from pymapreduce_spark.registry import ORACLES, QUERIES
from pymapreduce_spark.testing import compare_frames, make_duckdb

from conftest import SF_DIR

_ROOT = os.path.dirname(os.path.normpath(SF_DIR))
SMALL = os.path.join(_ROOT, "sf0.001")
LARGE = os.path.join(_ROOT, "sf0.01")

needs_fixtures = pytest.mark.skipif(
    not (os.path.isdir(SMALL) and os.path.isdir(LARGE)),
    reason="needs the sf0.001 and sf0.01 fixtures side by side",
)


def _copy_fixture(src: str, dst) -> str:
    """A writable copy of a fixture dir (copyfile: no read-only mode)."""
    os.makedirs(dst, exist_ok=True)
    for t in pio.TABLES:
        shutil.copyfile(pio.table_path(src, t), pio.table_path(str(dst), t))
    return str(dst)


def _link_fixture(src: str, dst) -> str:
    os.makedirs(dst, exist_ok=True)
    for t in pio.TABLES:
        os.symlink(pio.table_path(src, t), pio.table_path(str(dst), t))
    return str(dst)


def _check(spark, name: str, sf_dir: str) -> None:
    duck = make_duckdb(sf_dir)
    try:
        compare_frames(name, QUERIES[name](spark, sf_dir), duck, ORACLES[name])
    finally:
        duck.close()


@needs_fixtures
def test_tpch_after_in_place_rewrite(spark, tmp_path):
    sf = _copy_fixture(SMALL, tmp_path / "sf")
    for name in ("q1_pricing_summary", "q3_shipping_priority"):
        _check(spark, name, sf)
    for t in ("lineitem", "orders"):
        shutil.copyfile(pio.table_path(LARGE, t), pio.table_path(sf, t))
    for name in ("q1_pricing_summary", "q3_shipping_priority"):
        _check(spark, name, sf)


@needs_fixtures
def test_vector_op_after_in_place_rewrite_with_duplicate_id(spark, tmp_path):
    sf = _copy_fixture(SMALL, tmp_path / "sf")
    _check(spark, "llm_embed_quantize", sf)  # warms the canonicalization gate
    path = pio.table_path(sf, "embeddings")
    emb = pq.read_table(path)
    first = emb.slice(0, 1).to_pylist()[0]
    # sorts before the original, so the canonical row for this id changes
    dup = dict(first, embedding=[-0.5] * len(first["embedding"]))
    pq.write_table(
        pa.concat_tables([emb, pa.Table.from_pylist([dup], emb.schema)]), path
    )
    _check(spark, "llm_embed_quantize", sf)


@needs_fixtures
def test_sql_frontend_a_then_b_then_a(spark):
    for sf in (SMALL, LARGE, SMALL):
        _check(spark, "sql_frontend", sf)


@needs_fixtures
def test_bucketed_join_dirs_sharing_a_basename(spark, tmp_path):
    x = _link_fixture(SMALL, tmp_path / "x" / "sf")
    y = _link_fixture(LARGE, tmp_path / "y" / "sf")
    assert pio.artifact_path(x) != pio.artifact_path(y)
    for sf in (x, y):
        _check(spark, "join_bucketed", sf)


@needs_fixtures
def test_failed_probe_is_not_memoized(spark, tmp_path, monkeypatch):
    from pymapreduce_spark.operators import llm_vector

    sf = _link_fixture(SMALL, tmp_path / "sf")  # a path no memo has seen
    real = llm_vector._semdedup_probe
    calls = []

    def flaky(full):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("probe job failed")
        return real(full)

    monkeypatch.setattr(llm_vector, "_semdedup_probe", flaky)
    with pytest.raises(RuntimeError, match="probe job failed"):
        QUERIES["llm_semdedup"](spark, sf)
    _check(spark, "llm_semdedup", sf)
    assert len(calls) == 2


# --- the helpers themselves, without Spark --------------------------------


@pytest.fixture
def tiny_sf(tmp_path, monkeypatch):
    monkeypatch.setattr(pio, "_ARTIFACTS_DIR", str(tmp_path / "artifacts"))
    monkeypatch.setattr(pio, "_MEMO", {})
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"v1")
    return str(sf)


def _run_threads(n: int, fn) -> list:
    barrier = threading.Barrier(n)
    out: list = [None] * n
    errors: list = []

    def worker(i: int) -> None:
        barrier.wait()
        try:
            out[i] = fn()
        except BaseException as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads as often as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    return out


def test_artifact_built_once_and_marked_after_build(tiny_sf, tmp_path):
    # Several rounds, each on a fresh fixture dir: the first callers of
    # a new artifact root race on creating it as well as on the build.
    for rnd in range(20):
        sf = tmp_path / f"round{rnd}"
        sf.mkdir()
        (sf / "t.parquet").write_bytes(b"v1")
        builds = []
        done = threading.Event()

        def build(path: str) -> None:
            builds.append(path)
            assert not os.path.exists(os.path.join(path, pio._MARKER))
            time.sleep(0.02)
            with open(os.path.join(path, "data"), "w") as fh:
                fh.write("built")
            done.set()

        def first_call() -> str:
            path = pio.derived_artifact(str(sf), "thing", ("t",), build)
            assert done.is_set()
            assert os.path.exists(os.path.join(path, pio._MARKER))
            with open(os.path.join(path, "data")) as fh:
                assert fh.read() == "built"
            return path

        paths = _run_threads(8, first_call)
        assert len(builds) == 1
        assert len(set(paths)) == 1

    # a new stamp rebuilds; a raising build leaves no marker behind
    with open(pio.table_path(str(sf), "t"), "wb") as fh:
        fh.write(b"version 2")

    def broken(path: str) -> None:
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        pio.derived_artifact(str(sf), "thing", ("t",), broken)
    assert not os.path.exists(os.path.join(paths[0], pio._MARKER))
    pio.derived_artifact(str(sf), "thing", ("t",), build)
    assert len(builds) == 2


def test_artifact_roots_of_deleted_fixtures_are_pruned(tiny_sf, tmp_path):
    gone = tmp_path / "gone"
    gone.mkdir()
    gone_root = pio.artifact_path(str(gone))
    kept_root = pio.artifact_path(tiny_sf)
    assert os.path.isdir(gone_root) and os.path.isdir(kept_root)
    # an older layout's root (no hash suffix), and a new-layout root
    # whose first caller has not written _SOURCE yet
    old_layout = os.path.join(pio._ARTIFACTS_DIR, "sf0.01", "events_replay")
    os.makedirs(old_layout)
    unstamped = os.path.join(pio._ARTIFACTS_DIR, "sf-0123abcd")
    os.makedirs(unstamped)
    shutil.rmtree(gone)
    new = tmp_path / "new"
    new.mkdir()
    pio.artifact_path(str(new))
    assert not os.path.exists(gone_root)
    assert not os.path.exists(os.path.dirname(old_layout))
    assert os.path.isdir(kept_root)
    assert os.path.isdir(unstamped)


def test_scratch_epochs_of_concurrent_callers_survive(tiny_sf):
    """A stable_scratch call on one thread never deletes the epoch
    another thread is still using, nor hands out the same epoch twice."""
    lost: list = []

    def caller() -> list:
        mine = []
        for _ in range(5):
            path = pio.stable_scratch(tiny_sf, "probe")
            with open(os.path.join(path, "owner"), "x") as fh:
                fh.write(str(threading.get_ident()))
            if mine and not os.path.exists(os.path.join(mine[-1], "owner")):
                lost.append(mine[-1])
            mine.append(path)
        return mine

    paths = [p for got in _run_threads(8, caller) for p in got]
    assert lost == []
    assert len(set(paths)) == len(paths) == 40


@pytest.mark.parametrize(
    "name",
    [
        "scan_csv",
        "scan_jsonl",
        "scan_text",
        "sink_parquet",
        "sink_csv",
        "sink_jsonl",
        "sink_upsert",
        "sink_orc",
        "sink_python_ds",
        "scan_merge_schema",
        "scan_jsonl_nested",
    ],
)
def test_held_result_of_a_write_then_read_op_survives_a_second_call(
    spark, name
):
    """An op that writes files and returns a lazy read of them: calling
    it again must not delete or overwrite the files the caller's first
    result still reads."""
    first = QUERIES[name](spark, SF_DIR)
    QUERIES[name](spark, SF_DIR)
    duck = make_duckdb(SF_DIR)
    try:
        compare_frames(name, first, duck, ORACLES[name])
    finally:
        duck.close()


def test_memo_concurrent_first_lookup_and_failures(tiny_sf):
    def compute():
        time.sleep(0.05)
        return ("rows", 42)

    values = _run_threads(
        8, lambda: pio.fixture_memo("probe", tiny_sf, ("t",), compute)
    )
    assert all(v == ("rows", 42) for v in values)

    def broken():
        raise RuntimeError("job failed")

    with pytest.raises(RuntimeError):
        pio.fixture_memo("failing", tiny_sf, ("t",), broken)
    assert not [k for k in pio._MEMO if k[0] == "failing"]
    assert pio.fixture_memo("failing", tiny_sf, ("t",), lambda: 7) == 7

    # a rewritten source recomputes and replaces the entry
    with open(pio.table_path(tiny_sf, "t"), "wb") as fh:
        fh.write(b"version 2")
    assert pio.fixture_memo("failing", tiny_sf, ("t",), lambda: 8) == 8
    assert len([k for k in pio._MEMO if k[0] == "failing"]) == 1


def test_memo_computes_outside_its_lock(tiny_sf):
    """A slow first computation must not hold up another lookup."""
    release = threading.Event()
    started = threading.Event()

    def slow():
        started.set()
        release.wait(30)
        return "slow"

    t = threading.Thread(
        target=pio.fixture_memo, args=("slow", tiny_sf, ("t",), slow)
    )
    t.start()
    try:
        assert started.wait(30)
        t0 = time.perf_counter()
        assert pio.fixture_memo("fast", tiny_sf, ("t",), lambda: 1) == 1
        assert time.perf_counter() - t0 < 5
    finally:
        release.set()
        t.join(30)
    assert not t.is_alive()


# --- tooling guard ---------------------------------------------------------

#: Spellings of "derive a cache key or artifact location by hand":
#: the artifacts root, a fixture stamp, a ready-marker file, a stamp
#: file, and a basename-of-sf_dir tag.
_KEYING = re.compile(
    r"\.artifacts|fixture_stamp\(|_READY|\.stamp\b|basename\(os\.path\.normpath"
)


def test_keying_lives_in_io_only():
    pkg = os.path.dirname(pymapreduce_spark.__file__)
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == pio.__file__:
                continue
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if _KEYING.search(line):
                        hits.append(f"{os.path.relpath(path, pkg)}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)


def test_bucketed_files_survive_a_second_process(spark):
    """Another process on the same checkout that asks for the bucketed
    tables registers its own over the same files and never rewrites
    them: the files this session reads keep their inodes and mtimes,
    and join_bucketed still matches its oracle."""
    import subprocess
    from urllib.parse import unquote, urlparse

    from pymapreduce_spark.operators.scale import _ensure_bucketed

    def stats() -> dict:
        out = {}
        for t in _ensure_bucketed(spark, SF_DIR):
            for uri in spark.table(t).inputFiles():
                path = unquote(urlparse(uri).path)
                st = os.stat(path)
                out[path] = (st.st_ino, st.st_mtime_ns)
        return out

    before = stats()
    code = (
        "import sys\n"
        "from pymapreduce_spark.operators.scale import _ensure_bucketed\n"
        "from pymapreduce_spark.session import get_spark\n"
        "_ensure_bucketed(get_spark(), sys.argv[1])\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", code, SF_DIR],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    after = {}
    for path in before:
        st = os.stat(path)
        after[path] = (st.st_ino, st.st_mtime_ns)
    assert after == before
    _check(spark, "join_bucketed", SF_DIR)
