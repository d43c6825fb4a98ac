"""Full-surface adversarial differential audit.

Rebuilds the smallest fixture with one adversarial mutation AXIS, then
runs EVERY registered query through both engines (Spark implementation
vs its DuckDB oracle) and reports crashes and value divergences. This
is the sweep the per-round robustness work starts from; the defects it
finds get fixed and then pinned as fast per-op regression tests in
``tests/test_adversarial_input.py`` (the sweep itself is too slow for
CI).

Axes (rounds 7-8; each builder's docstring carries the details):

- ``nan_inf``   — IEEE NaN / +-Infinity in double measure columns:
  pandas-NaN-vs-SQL-NULL conflation, ANSI cast crashes, NaN
  grouping/sorting splits.
- ``zero_embed``   — zero / 1e30 / subnormal / duplicate vectors:
  zero-norm NaNs, argmax ties.
- ``ragged_embed`` — wrong-dimension / NULL-element / empty vectors:
  the well-formed-scan doctrine.
- ``dup_ids``   — duplicate primary keys with DIFFERENT payloads:
  canonical-row-per-id, measure-column tie-breaks, doc pooling.
- ``null_ids``  — NULL primary keys with engineered order ties:
  NULLS pinning (engine defaults differ), identity-is-part-of-
  well-formedness, Arrow dtype poisoning.
- ``combined_ids`` — the three id doctrines composed on the same rows.
- ``tiny``      — 3-row (or --rows 1) tables: k>n, log(0),
  sample-variance NULL-vs-NaN.
- ``huge_doc``  — 500 KB docs, 100 KB unbroken tokens, 10k identical
  tokens: per-document quadratics (see plan_audit's hof-in-filter /
  producer-above-generate flags).
- ``unicode_keys`` / ``control_chars`` — hostile group/join keys and
  CSV/JSON metacharacters.
- ``negative`` / ``one_key`` / ``null_ts`` / ``clock_tz`` /
  ``combined2`` — negative measures, monster partitions, NULL event
  times, hostile timezones, and round-5-7 axis interactions.

Run:  python tools/adversarial_audit.py AXIS [--rows N] [--only name,..]
                                             [--tz ZONE] [--time]
Exit: number of divergent/crashed queries (0 = clean sweep).
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pymapreduce_spark.io import TABLES  # noqa: E402

SRC = os.environ.get("AUDIT_SRC", "/root/testdata/sf0.001")


def _set(tb: pa.Table, col: str, values: list) -> pa.Table:
    idx = tb.schema.get_field_index(col)
    return tb.set_column(idx, col, pa.array(values, type=tb.schema.field(col).type))


def build_nan_inf(out: str, rows: int) -> None:
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            v = tb["value"].to_pylist()
            v[0] = float("nan")
            v[1] = float("inf")
            v[2] = float("-inf")
            v[3] = float("nan")  # two NaNs: grouping must pool them
            tb = _set(tb, "value", v)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_zero_embed(out: str, rows: int) -> None:
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "embeddings":
            e = tb["embedding"].to_pylist()
            dim = len(e[0])
            e[0] = [0.0] * dim                       # zero vector
            e[1] = [0.0] * dim                       # duplicate zero vector
            e[2] = [1e30] * dim                      # dot overflows f32
            e[3] = [1e-30] * dim                     # subnormal after square
            e[5] = list(e[4])                        # exact duplicate pair
            tb = _set(tb, "embedding", e)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_ragged_embed(out: str, rows: int) -> None:
    """Ragged-embedding axis (round 8): the corrupt vector rows a
    100 TB embedding store actually contains — wrong-dimension vectors
    (truncated writes, mixed model versions), NULL elements inside a
    vector (failed casts), an empty vector, and an exact duplicate of
    a ragged vector. Planted BOTH in the query region (vec_id < 10 —
    sim-search queries / semdedup seeds) and mid-corpus, so candidate
    generation and re-ranking each meet them."""
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "embeddings":
            e = tb["embedding"].to_pylist()
            e[0] = e[0][:32]                         # short QUERY vector
            e[1] = e[1] + e[1][:8]                   # long (72-dim) query
            e[2] = []                                # empty query vector
            v = list(e[3])
            v[5] = None
            v[40] = None
            e[3] = v                                 # NULL elements, query
            e[17] = list(e[0])                       # dup of the short vec
            w = list(e[100])
            w[0] = None
            e[100] = w                               # NULL element, corpus
            e[101] = e[101][:16]                     # short corpus vector
            e[102] = []                              # empty corpus vector
            x = list(e[103])
            x[9] = float("nan")
            e[103] = x                               # NaN element (well-
            # formed by the doctrine: NaN is a FLOAT, not a NULL — it
            # flows into dot products, where both engines sort NaN
            # cosines greatest)
            tb = _set(tb, "embedding", e)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_dup_ids(out: str, rows: int) -> None:
    """Duplicate-primary-key axis (round 8): the same doc_id / vec_id /
    event_id / o_orderkey on MULTIPLE rows with DIFFERENT payloads —
    what a dirty upstream join or a replayed ingest actually produces.
    Probes every uniqueness assumption: 1:1 joins fan out, per-key
    windows get tied partitions, and any pick-one path (first/any_value
    without a total order) splits engines unless deterministically
    tie-broken. Payloads differ so a nondeterministic pick is VISIBLE,
    not masked by identical copies."""
    import pyarrow as _pa

    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            dup = tb.slice(0, 5).to_pylist()
            for i, r in enumerate(dup):
                r["text"] = (r["text"] or "") + f" dup{i}"
                r["n_chars"] = len(r["text"])
            tb = _pa.concat_tables(
                [tb, _pa.Table.from_pylist(dup, schema=tb.schema)]
            )
        elif t == "embeddings":
            dup = tb.slice(0, 5).to_pylist()
            for r in dup:
                r["embedding"] = [-x for x in r["embedding"]]
                r["label"] = (r["label"] + 1) % 3
            tb = _pa.concat_tables(
                [tb, _pa.Table.from_pylist(dup, schema=tb.schema)]
            )
        elif t == "events":
            dup = tb.slice(0, 8).to_pylist()
            for i, r in enumerate(dup):
                r["value"] = (r["value"] or 0) + 1000 + i
            tb = _pa.concat_tables(
                [tb, _pa.Table.from_pylist(dup, schema=tb.schema)]
            )
        elif t == "orders":
            dup = tb.slice(0, 5).to_pylist()
            for r in dup:
                r["o_totalprice"] = round((r["o_totalprice"] or 0) + 1, 2)
            tb = _pa.concat_tables(
                [tb, _pa.Table.from_pylist(dup, schema=tb.schema)]
            )
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_null_ids(out: str, rows: int) -> None:
    """NULL-primary-key axis (round 8): NULL doc_id / vec_id /
    event_id / user_id rows. The sharp edge is ORDERING: every
    (ts, event_id) window tie-break compares NULL ids, and Spark
    defaults ASC to NULLS FIRST while DuckDB defaults to NULLS LAST —
    so ties are engineered (NULL-id events share their ts with a
    neighboring real row). Grouping pools NULL keys identically in
    both engines; equi-joins drop them identically; ordering is where
    the engines' defaults genuinely differ."""
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            ids = tb["event_id"].to_pylist()
            ts = tb["ts"].to_pylist()
            for j in (3, 40, 41, 200, 201):
                ids[j] = None
            # force order ties: the NULL-id rows share a ts with a
            # real-id neighbor (and 40/41 are BOTH null, same ts)
            ts[3] = ts[2]
            ts[41] = ts[40]
            ts[200] = ts[199]
            ts[201] = ts[199]
            tb = _set(tb, "event_id", ids)
            tb = _set(tb, "ts", ts)
        elif t == "documents":
            ids = tb["doc_id"].to_pylist()
            ids[7] = None
            ids[8] = None  # two NULL-id docs with different texts
            tb = _set(tb, "doc_id", ids)
        elif t == "embeddings":
            ids = tb["vec_id"].to_pylist()
            ids[30] = None
            ids[31] = None  # two NULL-id vectors with different payloads
            tb = _set(tb, "vec_id", ids)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_combined_ids(out: str, rows: int) -> None:
    """Identity-corruption COMPOSITION axis (round 8): the three id
    doctrines interacting on the same rows — a vec_id duplicated where
    one copy is ragged (the well-formed filter must run BEFORE
    canonicalization picks), a NULL id that is also ragged, duplicate
    ids where one copy is whole-NULL (canonical pick must prefer the
    real vector via NULLS LAST), NULL event_ids that are ALSO value
    duplicates at a tied ts (the full tie-break chain engages), and a
    doc_id that is both duplicated and NULL-texted."""
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "embeddings":
            rows_l = tb.to_pylist()
            r0 = dict(rows_l[0])
            r0["embedding"] = r0["embedding"][:16]   # ragged dup of id 0
            r1 = dict(rows_l[1])
            r1["embedding"] = None                   # whole-NULL dup of 1
            r1["label"] = 2
            rn = dict(rows_l[2])
            rn["vec_id"] = None
            rn["embedding"] = rn["embedding"][:8]    # NULL id AND ragged
            r3 = dict(rows_l[3])
            v3 = list(r3["embedding"])
            v3[7] = float("nan")                     # NaN-element dup:
            r3["embedding"] = v3                     # non-finite => not
            rows_l += [r0, r1, rn, r3]               # well-formed, so
            # the canonical pick sees only the NaN-free original
            tb = pa.Table.from_pylist(rows_l, schema=tb.schema)
        elif t == "events":
            rows_l = tb.to_pylist()
            d = dict(rows_l[5])
            d["event_id"] = None                     # NULL id, tied ts,
            rows_l.append(d)                         # identical payload
            d2 = dict(rows_l[6])
            d2["event_id"] = None
            d2["value"] = (d2["value"] or 0) + 7.0   # NULL id, tied ts,
            rows_l.append(d2)                        # different payload
            tb = pa.Table.from_pylist(rows_l, schema=tb.schema)
        elif t == "documents":
            rows_l = tb.to_pylist()
            d = dict(rows_l[4])
            d["text"] = None                         # dup id, NULL text
            rows_l.append(d)
            tb = pa.Table.from_pylist(rows_l, schema=tb.schema)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


#: Hostile JSON payloads with a cross-engine-DEFINABLE outcome. The
#: engine-DEFINED classes are deliberately excluded and documented in
#: fn_json's docstring: trailing commas and duplicate keys (DuckDB's
#: json_valid accepts both, Spark's try_parse_json rejects both — and
#: Spark's own three JSON APIs disagree with each other on dup keys:
#: get_json_object picks the FIRST, from_json the LAST), NaN/Infinity
#: literals, and out-of-int64 numbers (DuckDB re-renders 1e20 through a
#: double, Spark returns the raw token).
_HOSTILE_JSON = [
    "{'k': 1}",            # single quotes (invalid both; Jackson would
                           # leniently extract — the validity gate must
                           # stop it on BOTH the string and typed paths)
    "5",                   # bare scalar (valid JSON, no $.k)
    "",                    # empty string
    "   ",                 # whitespace only
    '{"k": null}',
    '{"j": 3}',            # missing k
    '{"k": ' + "[" * 39 + "]" * 39 + "}",   # deep nesting
    '{"k": "\\u0041"}',    # unicode escape
    '{"k": -0}',
    '{"k": 1.9}',          # double-typed k (typed INT extraction must
                           # NOT round: DuckDB TRY_CAST('1.9') -> 2,
                           # Spark from_json k INT -> NULL)
    '{"k": true}',
    '{"k": "5"}',          # string-typed k
    '{"k": 3000000000}',   # int64-ok, int32-overflow
    "{broken",             # malformed
    "[1, 2]",              # array root
]


def build_hostile_json(out: str, rows: int) -> None:
    """Hostile-JSON axis (round 8): the props payloads a scraped event
    stream actually carries, restricted to classes where a consistent
    cross-engine doctrine EXISTS (see _HOSTILE_JSON; the undefinable
    classes are documented out-of-envelope instead)."""
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            pr = tb["props"].to_pylist()
            for j, payload in enumerate(_HOSTILE_JSON):
                pr[j * 3] = payload        # spread across rows/groups
            tb = _set(tb, "props", pr)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_extreme_measures(out: str, rows: int) -> None:
    """Extreme-measure axis (round 8): NaN / ±Inf AND huge-but-FINITE
    magnitudes (1e17 — cents overflow int64; 1e308 — rounds to Inf;
    5e-324 subnormal) planted in EVERY money/measure column, not just
    events.value (the round-7 nan_inf axis's scope). Directly exercises
    the integer-cents doctrine corpus-wide: TRY_CAST(round(x*100) AS
    BIGINT) must resolve each class identically in both engines —
    Spark's saturating floor/round vs DuckDB's NULLing TRY_CAST was the
    round-7 ADVICE histogram class, previously untested beyond the
    fixture's ~560 envelope.

    Huge-but-FINITE magnitudes (1e17+) are deliberately NOT planted:
    beyond the exact-integer-cents range a cross-engine double SUM is
    undefined by IEEE itself (accumulation order changes the low bits
    — the first probe showed ...718 vs ...719 tails in every raw-sum
    op), and ANSI overflow on the exact-cents paths is the DESIGNED
    loud failure for out-of-contract magnitudes (FIXTURES.md envelope;
    ts_rolling_corr docstring). Non-finite values and subnormals, by
    contrast, have one defined answer everywhere: cents() NULLs them,
    raw IEEE ops propagate them identically."""
    spots = {
        "lineitem": ["l_extendedprice", "l_discount"],
        "orders": ["o_totalprice"],
        "supplier": ["s_acctbal"],
        "customer": ["c_acctbal"],
        "events": ["value"],
    }
    hostile = [float("nan"), float("inf"), float("-inf"), 5e-324]
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        for col in spots.get(t, []):
            if col not in tb.column_names:
                continue
            v = tb[col].to_pylist()
            for j, h in enumerate(hostile):
                idx = 5 + j * 11
                if idx < len(v):
                    v[idx] = h
            tb = _set(tb, col, v)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_tiny(out: str, rows: int) -> None:
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        pq.write_table(tb.slice(0, rows), os.path.join(out, f"{t}.parquet"))


#: Unicode KEY values (the round-5 unicode axis mutated only the text
#: payload): CJK, emoji (incl. astral-plane, so UTF-16 surrogate
#: pairs JVM-side), combining marks (NFC vs NFD spelling), case-fold
#: traps (ß upper-cases to SS in Java; dotted İ lower-cases
#: locale-sensitively), an empty string (distinct from NULL), and
#: leading/trailing whitespace. These flow through group-bys, window
#: tie-breaks, join keys, and upper()/lower() calls.
_UNI_KEYS = [
    "购买事件", "café́", "🛒🔥", "ßße", "İstanbul", "",
    " padded ", "ключ",
]


def build_unicode_keys(out: str, rows: int) -> None:
    def cycle(tb: pa.Table, col: str, every: int) -> pa.Table:
        vals = tb[col].to_pylist()
        for j, i in enumerate(range(0, len(vals), every)):
            vals[i] = _UNI_KEYS[j % len(_UNI_KEYS)]
        return _set(tb, col, vals)

    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            tb = cycle(tb, "event_type", 29)
        if t == "documents":
            tb = cycle(tb, "lang", 17)
            tb = cycle(tb, "source", 23)
        if t == "customer":
            tb = cycle(tb, "c_mktsegment", 13)
            tb = cycle(tb, "c_name", 11)
        if t == "orders":
            tb = cycle(tb, "o_orderpriority", 19)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_combined2(out: str, rows: int) -> None:
    """Round-7 interaction axis: non-finite measures + unicode keys +
    duplicate fact keys + NULL injection, all in ONE rebuild — the r6
    combined axis proved interactions hide where per-axis fixtures
    pass (13 defects in ops every single axis passed)."""
    rng = np.random.RandomState(20260815)
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            v = tb["value"].to_pylist()
            v[0] = float("nan")
            v[1] = float("inf")
            v[2] = float("-inf")
            for i in rng.choice(len(v), size=len(v) // 20, replace=False):
                v[i] = None
            tb = _set(tb, "value", v)
            et = tb["event_type"].to_pylist()
            for j, i in enumerate(range(0, len(et), 29)):
                et[i] = _UNI_KEYS[j % len(_UNI_KEYS)]
            tb = _set(tb, "event_type", et)
            rows_l = tb.to_pylist()
            extra = []
            for i in range(0, len(rows_l), 41):  # dup fact keys, new payload
                r = dict(rows_l[i])
                r["value"] = float("nan") if i % 82 else 7.25
                r["event_type"] = "collision"
                extra.append(r)
            tb = pa.Table.from_pylist(rows_l + extra, schema=tb.schema)
        if t == "documents":
            lg = tb["lang"].to_pylist()
            for j, i in enumerate(range(0, len(lg), 17)):
                lg[i] = _UNI_KEYS[j % len(_UNI_KEYS)]
            for i in rng.choice(len(lg), size=len(lg) // 20, replace=False):
                lg[i] = None
            tb = _set(tb, "lang", lg)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_negative(out: str, rows: int) -> None:
    """Negative and zero money/quantity values (refund rows, returns,
    free items): hunts log()/sqrt()/Gini positivity assumptions and
    sign-sensitive bucketing."""
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            v = tb["value"].to_pylist()
            for i in range(0, len(v), 13):
                if v[i] is not None:
                    v[i] = -abs(v[i])
            v[3] = 0.0
            tb = _set(tb, "value", v)
        if t == "lineitem":
            q = tb["l_quantity"].to_pylist()
            p = tb["l_extendedprice"].to_pylist()
            for i in range(0, len(q), 17):
                q[i] = -abs(q[i])
                p[i] = -abs(p[i])
            p[5] = 0.0
            tb = _set(tb, "l_quantity", q)
            tb = _set(tb, "l_extendedprice", p)
        if t == "orders":
            tp = tb["o_totalprice"].to_pylist()
            for i in range(0, len(tp), 19):
                tp[i] = -abs(tp[i])
            tp[7] = 0.0
            tb = _set(tb, "o_totalprice", tp)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_control_chars(out: str, rows: int) -> None:
    """Embedded CSV/JSON metacharacters and control characters in
    string fields: commas, double quotes, newlines, CRLF, tabs, and
    backslashes in nation.n_name (the scan_csv round-trip column);
    tabs/quotes/commas/backslashes (NOT newlines — the line format's
    documented no-newline contract) in documents.text; raw control
    chars inside events.props JSON string values (invalid JSON, the
    permissive-scan path)."""
    tricky_names = [
        'comma, name', 'quo"ted', 'line\nbreak', 'crlf\r\nname',
        'tab\tname', 'back\\slash', ' lead/trail ', 'semi;colon',
    ]
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "nation":
            nm = tb["n_name"].to_pylist()
            for j in range(min(len(nm), len(tricky_names))):
                nm[j] = tricky_names[j]
            tb = _set(tb, "n_name", nm)
        if t == "documents":
            tx = tb["text"].to_pylist()
            tx[4] = 'a "quoted" doc, with tab\there and back\\slash'
            tx[9] = "commas, everywhere, in, this, doc"
            tb = _set(tb, "text", tx)
        if t == "events":
            p = tb["props"].to_pylist()
            p[0] = '{"k": "raw\ttab"}'      # invalid JSON (raw control)
            p[1] = '{"k": "ok\\ttab"}'       # valid escaped tab
            tb = _set(tb, "props", p)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_null_ts(out: str, rows: int) -> None:
    """NULL event timestamps (a 2% un-parseable upstream clock): the
    round-5 NULL axis nullified measures and dims but never events.ts —
    and time ordering/windowing/watermarking is a third of the
    registry. Also one NULL l_shipdate cluster and NULL o_orderdate?
    (orders has no date col in this fixture — events.ts is the axis)."""
    rng = np.random.RandomState(99)
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            ts = tb["ts"].to_pylist()
            for i in rng.choice(len(ts), size=max(1, len(ts) // 50),
                                replace=False):
                ts[i] = None
            tb = _set(tb, "ts", ts)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_one_key(out: str, rows: int) -> None:
    """Monster-partition extreme: EVERY event belongs to one user, every
    document to one lang+source, every lineitem to one supplier — the
    degenerate end of the skew spectrum where per-key windows hold the
    whole table and every group-by collapses to one group."""
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            tb = _set(tb, "user_id", [42] * len(tb))
        if t == "documents":
            tb = _set(tb, "lang", ["en"] * len(tb))
            tb = _set(tb, "source", ["src0"] * len(tb))
        if t == "lineitem":
            tb = _set(tb, "l_suppkey", [7] * len(tb))
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


#: Round-8 CLOCK axis wall-clocks (naive, µs precision — exactly what
#: the parquet stores): year boundary at both µs edges, ISO-week-year
#: mismatch days, leap day, a Fiji DST fall-back ambiguous wall-clock
#: (Pacific/Fiji left DST on 2024-01-14 — the one transition inside the
#: fixture's January span), Sunday/Monday midnights (dayofweek edges),
#: and a leap-second-adjacent 23:59:59.999999. Under the NTZ doctrine
#: every one of these is just a naive value both engines bucket
#: identically; before it, the zoned cast made the Fiji wall-clock
#: AMBIGUOUS under a Fiji session timezone.
_CLOCK_TS = [
    "2023-12-31 23:59:59.999999",  # year boundary, µs below
    "2024-01-01 00:00:00",         # year boundary exact; ISO week 1 Monday
    "2023-12-31 00:00:00",         # ISO week 52 Sunday of the OLD year
    "2024-02-29 12:00:00",         # leap day
    "2024-01-14 02:30:00",         # Fiji DST fall-back ambiguous wall-clock
    "2024-01-07 00:00:00",         # Sunday midnight (is_weekend edge)
    "2024-01-08 00:00:00",         # Monday midnight
    "2024-01-31 23:59:59.999999",  # month boundary, µs below
]


def build_clock_tz(out: str, rows: int) -> None:
    """DST/year/ISO-week boundary timestamps in events.ts. Run this axis
    under a hostile zone on BOTH fronts to cover the round-7 verdict's
    clock task: ``TZ=Asia/Kathmandu python tools/adversarial_audit.py
    clock_tz --tz Asia/Kathmandu`` (a +05:45 zone breaks every
    epoch-aligned bucketing that leaks the session tz, and the TZ env
    var breaks any zoned output column at collect time)."""
    from datetime import datetime

    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            ts = tb["ts"].to_pylist()
            for j, v in enumerate(_CLOCK_TS):
                if j < len(ts):
                    ts[j] = datetime.fromisoformat(v)
            # spread a second copy mid-table so boundary values also land
            # in non-first windows/sessions
            for j, v in enumerate(_CLOCK_TS):
                k = len(ts) // 2 + j * 7
                if k < len(ts):
                    ts[k] = datetime.fromisoformat(v)
            tb = _set(tb, "ts", ts)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_huge_doc(out: str, rows: int) -> None:
    """Monster-document axis (round 8): the text-payload extremes a
    web-crawl corpus actually contains and that per-doc tokenization /
    shingling / chunking must survive without quadratic blowup or
    engine splits — a ~500 KB natural-ish doc, a single ~100 KB token
    (no whitespace: minified JS / base64 blobs), ~10k repetitions of
    ONE token (boilerplate spam — every shingle identical), an empty
    text, and a whitespace-only text."""
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            tx = tb["text"].to_pylist()
            words = ("the quick brown fox jumps over the lazy dog "
                     "pack my box with five dozen liquor jugs ").split()
            big = " ".join(words[i % len(words)] for i in range(80_000))
            tx[0] = big                      # ~500 KB, ~80k tokens
            tx[1] = "x" * 100_000            # one 100 KB token
            tx[2] = "spam " * 10_000         # 10k identical tokens
            tx[3] = ""                       # empty text
            tx[4] = "   "                    # whitespace-only
            tb = _set(tb, "text", tx)
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


def build_extreme_ids(out: str, rows: int) -> None:
    """Int64-BOUNDARY ids (round 9): ±Long.MAX/MIN-adjacent values in
    every id column — the id class no prior axis touched (negative ids
    exist in the `negative` axis, but boundary magnitudes are their
    own failure class: Spark ANSI id arithmetic THROWS on overflow
    where DuckDB silently promotes to INT128, numpy int64 wraps, and
    truncated `%` at Long.MIN yields negative group keys). Ids a real
    pipeline mints from hashes (xxhash64 spans the full int64 range)
    look exactly like this. Order keys are remapped VALUE-wise on both
    orders and lineitem so join semantics survive."""
    LMAX = (1 << 63) - 1
    LMIN = -(1 << 63)
    extremes = [LMAX, LMIN, LMAX - 1, LMIN + 1, LMAX - 7, -1]
    for t in TABLES:
        tb = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        id_cols = {
            "events": ["event_id", "user_id"],
            "documents": ["doc_id"],
            "embeddings": ["vec_id"],
            "customer": ["c_custkey"],
        }.get(t, [])
        for col in id_cols:
            v = tb[col].to_pylist()
            for j, x in enumerate(extremes):
                if j < len(v):
                    v[j] = x
            tb = _set(tb, col, v)
        if t in ("orders", "lineitem"):
            col = "o_orderkey" if t == "orders" else "l_orderkey"
            v = tb[col].to_pylist()
            lo = sorted({x for x in v if x is not None})[:2]
            remap = {}
            if lo:
                remap[lo[0]] = LMAX
            if len(lo) > 1:
                remap[lo[1]] = LMIN + 1
            tb = _set(tb, col, [remap.get(x, x) for x in v])
        pq.write_table(tb, os.path.join(out, f"{t}.parquet"))


AXES = {
    "extreme_ids": build_extreme_ids,
    "nan_inf": build_nan_inf,
    "clock_tz": build_clock_tz,
    "huge_doc": build_huge_doc,
    "zero_embed": build_zero_embed,
    "ragged_embed": build_ragged_embed,
    "dup_ids": build_dup_ids,
    "null_ids": build_null_ids,
    "combined_ids": build_combined_ids,
    "hostile_json": build_hostile_json,
    "extreme_measures": build_extreme_measures,
    "tiny": build_tiny,
    "unicode_keys": build_unicode_keys,
    "combined2": build_combined2,
    "negative": build_negative,
    "control_chars": build_control_chars,
    "null_ts": build_null_ts,
    "one_key": build_one_key,
}


def run(axis: str, rows: int, only: list[str] | None,
        tz: str | None = None, time_queries: bool = False) -> int:
    import tempfile
    import time as _time

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from pymapreduce_spark.testing import duck_rows, make_duckdb, spark_rows

    out = tempfile.mkdtemp(prefix=f"audit_{axis}_")
    AXES[axis](out, rows)
    print(f"fixture: {out} (axis={axis}, src={SRC}, tz={tz})", flush=True)

    if tz:
        # Hostile clock on every front the engine can't choose:
        # the PYTHON process tz (drives datetime.fromtimestamp in
        # collect() — the surface that shifted zoned outputs by +05:45
        # before the NTZ doctrine) and the JVM session tz at session
        # build. The engine's ensure_runtime_configs must claw the
        # session back to UTC per query; NTZ outputs ignore TZ.
        os.environ["TZ"] = tz
        _time.tzset()

    builder = (
        SparkSession.builder.master("local[8]")
        .appName(f"adversarial-audit-{axis}")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
    )
    if tz:
        builder = builder.config("spark.sql.session.timeZone", tz)
    spark = builder.getOrCreate()
    con = make_duckdb(out)

    queries, oracles = entry.queries(), entry.oracle_sql()
    names = [n for n in queries if not only or n in only]
    bad = 0
    slow: list[tuple[float, str]] = []
    for i, name in enumerate(names):
        t_q = _time.time()
        try:
            if tz:
                # re-poison before EVERY query: each op's own defensive
                # ensure_runtime_configs call must re-pin UTC — a single
                # self-heal at the first load_table must not carry the
                # rest of the sweep
                spark.conf.set("spark.sql.session.timeZone", tz)
            got = spark_rows(queries[name](spark, out))
            if time_queries:
                el = _time.time() - t_q
                slow.append((el, name))
                if el > 5.0:
                    print(f"SLOW {name}: {el:.1f}s", flush=True)
        except Exception:
            print(f"FAIL {name}: SPARK CRASH", flush=True)
            traceback.print_exc(limit=3)
            bad += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle", flush=True)
            continue
        try:
            want = duck_rows(con, oracles[name])
        except Exception as ex:
            print(f"FAIL {name}: ORACLE CRASH {ex}", flush=True)
            bad += 1
            continue
        if got != want:
            gset, wset = set(got), set(want)
            print(
                f"FAIL {name}: {len(got)} vs {len(want)} rows; "
                f"spark-only={sorted(gset - wset)[:3]} "
                f"oracle-only={sorted(wset - gset)[:3]}",
                flush=True,
            )
            bad += 1
        if (i + 1) % 25 == 0:
            print(f"  ... {i + 1}/{len(names)} ({bad} bad)", flush=True)
    if time_queries and slow:
        # a hostile fixture's latency outliers are the near-quadratics
        # that FINISH inside the sweep — the huge_doc hangs were only
        # the ones that didn't
        top = sorted(slow, reverse=True)[:10]
        print("slowest:", ", ".join(f"{n}={s:.1f}s" for s, n in top),
              flush=True)
    print(f"DONE axis={axis}: {bad}/{len(names)} divergent/crashed", flush=True)
    return bad


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("axis", choices=sorted(AXES))
    ap.add_argument("--rows", type=int, default=3)
    ap.add_argument("--only", type=str, default="")
    ap.add_argument(
        "--tz", type=str, default="",
        help="hostile zone for process TZ + Spark session tz "
             "(e.g. Asia/Kathmandu — +05:45 breaks epoch-aligned "
             "bucketing that leaks the session tz)",
    )
    ap.add_argument(
        "--time", action="store_true",
        help="print per-query wall time outliers (>5 s) and a slowest-10 "
             "summary — catches near-quadratics that finish inside the "
             "sweep instead of hanging it",
    )
    a = ap.parse_args()
    only = [s for s in a.only.split(",") if s] or None
    sys.exit(min(run(a.axis, a.rows, only, tz=a.tz or None,
                     time_queries=a.time), 99))
