"""Physical-plan audit over every registered query.

Plans all ``__spark_entry__.queries()`` entries at the given SF and
flags the shapes that break at 100 TB. It fetches no query's result,
but building a plan runs the op's construction: its eager Spark jobs
(streaming drains, tile fetches, ``localCheckpoint``s, memo probes)
and, on the first run in a checkout, every ``derived_artifact`` copy
the op reads (split layouts, the streaming replay dir, bucketed
tables). On a 4-core VM at sf0.01, construction took 50 s of a 56 s
run, 24 s of it in the 26 ``stream_*`` and ``sink_*`` ops; the
artifact builds of a fresh checkout added ~1.4 s.

- ``cartesian``      CartesianProduct — an unbroadcast cross product.
- ``bnlj``           BroadcastNestedLoopJoin — fine when the build side
                     is a scalar/tiny aggregate or a row-count-gated
                     baseline; a hazard when it isn't. Review each.
- ``global-window``  A window function whose spec has NO partition
                     keys — Spark funnels the whole input relation
                     through one task. Fine over bounded summaries
                     (per-day/per-partition rollups); fatal over
                     data-sized relations. Round-5 catch: vocab_coverage
                     and query_doc_match ranked data-sized relations to
                     read a top-k — both rewritten to orderBy+limit
                     (TakeOrderedAndProject). Round-8: the audit now
                     parses the plan TREE and suppresses the flag when
                     the window's input is provably bounded — every
                     join branch below it passes through a limit node
                     (TakeOrderedAndProject/GlobalLimit/CollectLimit)
                     or a KEYLESS aggregate (1 row) before reaching a
                     scan. A global window straight over a scan or a
                     keyed aggregate still flags.
- ``py-udf-row``     BatchEvalPython — a row-at-a-time Python UDF in
                     the plan (only the udf_python/udtf_python
                     conformance ops may carry this).
- ``hof-in-filter``  A Filter condition that re-computes an
                     array-producing expression (split/regexp/
                     from_json/sentences) INSIDE a higher-order
                     function lambda. The round-8 huge_doc quadratic
                     signature: predicate pushdown substitutes a
                     hoisted array alias back into the lambda body, so
                     the producer runs once per lambda ITERATION —
                     O(elements x input bytes) per row, interpreted,
                     at the scan (llm_boilerplate_share: ~6 s → >15 min
                     on one 500 KB doc). ensure_runtime_configs
                     excludes InferFiltersFromGenerate (the only known
                     source), so any future flag here means a NEW
                     pushdown path re-opened the hazard.
- ``producer-above-generate``  The same quadratic's Project flavor: an
                     array producer (split/regexp/...) over a
                     PRE-explosion column computed in a Project above a
                     Generate — evaluated once per exploded row
                     (llm_bm25's sibling-of-explode doc length,
                     round 8). Producers over the Generate's own output
                     column are per-element work and don't flag.
- high ``exchanges`` not a defect by itself (iterative algorithms and
                     multi-table audits shuffle often) but the first
                     place to look when a query is slow.

Run:  python tools/plan_audit.py [sf_dir]
Exits non-zero only on planning errors; flag review is a human step —
the per-op rationale lives in the operator docstrings.
"""

from __future__ import annotations

import re
import sys
import time

#: Nodes that hard-bound their output row count regardless of input.
_LIMIT_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit",
                "LocalLimit")
#: Unary nodes whose output row count is <= their input's (so bounded
#: input => bounded output). Anything NOT listed (Generate/Expand/
#: scans/...) is conservatively treated as unbounded.
_ROW_PRESERVING = {
    "Project", "Filter", "Sort", "Exchange", "BroadcastExchange",
    "Window", "WindowGroupLimit", "WindowInPandas", "Coalesce",
    "AQEShuffleRead", "ColumnarToRow", "InputAdapter",
    "AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage",
    "BroadcastQueryStage", "TableCacheQueryStage", "InMemoryTableScan",
    "WholeStageCodegen", "HashAggregate", "SortAggregate",
    "ObjectHashAggregate", "Subquery", "SubqueryBroadcast",
}


def _parse_tree(plan: str):
    """Parse the formatted-explain header into (name, children) keyed by
    node id, plus each node's detail block. Returns (names, children,
    details) or None when the header doesn't parse (defensive: callers
    fall back to the flag-everything behavior)."""
    lines = plan.splitlines()
    nodes: list[tuple[int, str, int]] = []  # (indent col, name, id)
    in_tree = False
    for ln in lines:
        if ln.startswith("== Physical Plan =="):
            in_tree = True
            continue
        if in_tree:
            if not ln.strip():
                break
            # the prefix class includes '*' so WholeStageCodegen's
            # "* Project (3)" names as "Project", not "*"
            m = re.match(r"^([\s:+|*-]*)(\S.*?)\s*\((\d+)\)\s*$", ln)
            if not m:
                return None
            prefix, body, nid = m.groups()
            nodes.append((len(prefix), body.split()[0], int(nid)))
    if not nodes:
        return None
    names: dict[int, str] = {}
    children: dict[int, list[int]] = {}
    stack: list[tuple[int, int]] = []  # (col, id)
    for col, name, nid in nodes:
        names[nid] = name
        children[nid] = []
        while stack and stack[-1][0] >= col:
            stack.pop()
        if stack:
            children[stack[-1][1]].append(nid)
        stack.append((col, nid))
    details: dict[int, str] = {}
    for m in re.finditer(
        r"^\((\d+)\) .*?$(.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S
    ):
        details[int(m.group(1))] = m.group(2)
    return names, children, details


def _bounded(nid: int, names: dict, children: dict, details: dict,
             seen: frozenset = frozenset()) -> bool:
    """True when the relation rooted at ``nid`` provably has a
    data-size-independent row count: a limit node, a keyless (global)
    aggregate, or a join/row-preserving chain over only such inputs."""
    if nid in seen:  # defensive against malformed reuse cycles
        return False
    seen = seen | {nid}
    name = names.get(nid, "")
    if name.startswith(_LIMIT_NODES):
        return True
    detail = details.get(nid, "")
    if "Aggregate" in name and re.search(
        r"Keys(?: \[0\])?: \[\]", detail
    ):
        return True  # global aggregate: exactly one row per group-set
    if name == "ReusedExchange":
        m = re.search(r"Reuses operator id: (\d+)", detail)
        return bool(m) and _bounded(
            int(m.group(1)), names, children, details, seen
        )
    kids = children.get(nid, [])
    join_like = "Join" in name or name in ("CartesianProduct", "Union")
    if join_like or name in _ROW_PRESERVING:
        # bounded x bounded is bounded for every join type (cross
        # included: the product of two constants is a constant)
        return bool(kids) and all(
            _bounded(k, names, children, details, seen) for k in kids
        )
    return False


def _unbounded_global_window(plan: str) -> bool:
    """True when some Window node has a partition-less spec AND its
    input is not provably bounded (see _bounded). Falls back to
    spec-only detection when the plan header doesn't parse."""
    def partitionless(text: str) -> bool:
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", text):
            if re.match(r"^\s*[^,]+ (ASC|DESC) NULLS (FIRST|LAST)", m.group(1)):
                return True
        return False

    parsed = _parse_tree(plan)
    if parsed is None:
        return partitionless(plan)
    names, children, details = parsed
    for nid, name in names.items():
        if not name.startswith("Window"):
            continue
        if not partitionless(details.get(nid, "")):
            continue
        if not all(
            _bounded(k, names, children, details) for k in children[nid]
        ) or not children[nid]:
            return True
    return False


#: Array/map-producing expressions that are expensive per evaluation —
#: harmless as a HOF *argument* (evaluated once per row), quadratic when
#: they appear inside the lambda *body* (evaluated once per iteration).
_HOF_PRODUCERS = ("split(", "regexp_extract_all(", "from_json(",
                  "sentences(", "str_to_map(")


def _hof_in_filter(plan: str) -> bool:
    """True when a Filter condition evaluates an array-producing
    expression inside a lambda body (see module docstring: the round-8
    huge_doc quadratic). Lambda bodies are everything after the first
    ``lambdafunction(`` in the condition text — producers appearing
    only BEFORE it are HOF arguments, evaluated once per row."""
    for line in plan.splitlines():
        stripped = line.strip()
        if not stripped.startswith("Condition"):
            continue
        pos = stripped.find("lambdafunction(")
        if pos < 0:
            continue
        body = stripped[pos:]
        if any(p in body for p in _HOF_PRODUCERS):
            return True
    return False


#: Nodes a Project's per-row cost rides through unchanged on the way
#: down to a Generate (no cardinality reset between them).
_CARD_CHAIN = {
    "Project", "Filter", "Sort", "Exchange", "BroadcastExchange",
    "AQEShuffleRead", "ColumnarToRow", "InputAdapter",
    "AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage",
    "BroadcastQueryStage", "Coalesce", "Window", "WindowGroupLimit",
    "Generate",
}

_PRODUCER_ARG = re.compile(
    r"(?:split|regexp_extract_all|from_json|sentences|str_to_map)"
    r"\((\w+#\d+)"
)


def _producer_above_generate(plan: str) -> bool:
    """The second huge_doc quadratic flavor: a Project that computes an
    array producer over a PRE-EXPLOSION column while sitting above a
    Generate — e.g. ``select(size(split(text)), explode(split(text)))``
    plans the size() into a Project above the Generate, re-splitting
    the full text once per exploded WORD (llm_bm25, round 8: jstack
    showed UTF8String.split inside generate_doConsume on a 500 KB doc;
    the sweep sat >10 min on one query). A producer over the Generate's
    own OUTPUT column (e.g. split(word) after explode) is per-element
    work and does not flag."""
    parsed = _parse_tree(plan)
    if not parsed:
        return False
    names, children, details = parsed

    def generates_below(nid: int) -> list[int]:
        out = []
        for kid in children.get(nid, []):
            nm = names.get(kid, "")
            if nm == "Generate":
                out.append(kid)
            if nm in _CARD_CHAIN:
                out.extend(generates_below(kid))
        return out

    for nid, nm in names.items():
        if nm != "Project":
            continue
        out_m = re.search(r"Output \[\d+\]: \[(.*)\]", details.get(nid, ""))
        if not out_m:
            continue
        args = set(_PRODUCER_ARG.findall(out_m.group(1)))
        if not args:
            continue
        for gid in generates_below(nid):
            gdet = details.get(gid, "")
            arg_m = re.search(r"Arguments: .*?\[([^\]]*)\]\s*$", gdet, re.S)
            generated = set(
                a.strip() for a in (arg_m.group(1) if arg_m else "").split(",")
            )
            if args - generated:
                return True
    return False


def audit(sf_dir: str = "/root/testdata/sf0.01") -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, ".")
    import __spark_entry__ as entry

    queries = entry.queries()
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    t0 = time.time()
    errors = 0
    for name in sorted(queries):
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                explain_mode.fromString("formatted")
            )
        except Exception as exc:  # noqa: BLE001 - report and continue
            print(f"{name}\tERR\t{str(exc)[:100]}")
            errors += 1
            continue
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan:
            flags.append("bnlj")
        if _unbounded_global_window(plan):
            flags.append("global-window")
        if "BatchEvalPython" in plan:
            flags.append("py-udf-row")
        if _hof_in_filter(plan):
            flags.append("hof-in-filter")
        if _producer_above_generate(plan):
            flags.append("producer-above-generate")
        n_exchanges = plan.count("Exchange")
        if flags or n_exchanges >= 8:
            print(f"{name}\t{','.join(flags) or '-'}\texchanges={n_exchanges}")
    print(
        f"# planned {len(queries)} queries in {time.time() - t0:.0f}s, "
        f"{errors} errors",
        file=sys.stderr,
    )
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(audit(*sys.argv[1:]))
