"""Physical-plan audit utilities (SURVEY.md §4).

The engine's scale story rests on claims about the PLANS, not just the
results: filters reach the parquet scan, projections prune the read
schema, small sides broadcast, relational stages stay inside
whole-stage codegen, and operators don't shuffle more than they say.
These helpers turn each claim into an assertion tests/test_plans.py
runs with the suite, so a plan regression (a lost pushdown, a join
that silently degrades to sort-merge-with-exchange) fails CI rather
than surfacing as a 100-TB incident.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the datasource scan (parquet row-group
    pruning boundary)."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from the datasource (column pruning)."""
    plan = formatted_plan(df)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            if ":" in field:
                cols.add(field.split(":")[0].strip())
    return cols


def plan_nodes(df: DataFrame) -> list[str]:
    """Operator names from the formatted plan's details section — each
    node appears exactly once as '(N) NodeName' (the tree rendering
    repeats names, so counting raw substrings double-counts)."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)]


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan. BroadcastExchange is a different
    node name and is NOT counted — broadcasts are the cheap kind."""
    return sum(1 for n in plan_nodes(df) if n == "Exchange")


def join_kinds(df: DataFrame) -> list[str]:
    wanted = {
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    }
    return [n for n in plan_nodes(df) if n in wanted]


def codegen_stage_count(df: DataFrame, execute: bool = True) -> int:
    """Distinct whole-stage-codegen spans (`*(N)` markers). With AQE the
    markers only exist in the FINAL plan, so the query is executed
    first by default."""
    if execute:
        # collect() (not count()) — count() executes a DIFFERENT query
        # and leaves this df's adaptive plan unfinalized; audit inputs
        # are small test frames
        df.collect()
    plan = simple_plan(df)
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def has_python_stage(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return bool(re.search(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas", plan))


_FP_NORMALIZERS = (
    # higher-order-function lambda variables carry a session-global
    # counter: lambda x_4 / lambda x_10 are the same variable
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1_"),
    # per-run temp/scratch and data paths
    (re.compile(r"file:/[^\s,\]\)]*"), "<path>"),
    (re.compile(r"/(?:tmp|root)/[^\s,\]\)]*"), "<path>"),
    # cached-plan ids and statistics vary with the run
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    # InMemoryFileIndex prints the path count it indexed
    (re.compile(r"InMemoryFileIndex\(\d+ paths\)"), "InMemoryFileIndex()"),
)


def _swap_block(text: str, raw: str, canon: str) -> str:
    """Replace every occurrence of the tree ``raw`` inside ``text`` (its
    lines printed after a tree-drawing prefix) with ``canon``, indented
    by the prefix of the block's first line."""
    lines, old = text.split("\n"), raw.rstrip("\n").split("\n")
    new = canon.rstrip("\n").split("\n")
    j = 0
    while j + len(old) <= len(lines):
        if all(lines[j + i].endswith(old[i]) for i in range(len(old))):
            pad = lines[j][: len(lines[j]) - len(old[0])]
            lines[j : j + len(old)] = [pad + c for c in new]
            j += len(new)
        else:
            j += 1
    return "\n".join(lines)


def _cached_text(cached) -> str:
    """A cached physical plan as the fingerprint prints it: the plan
    AQE started from (its final plan carries stage ids that depend on
    execution), nested caches swapped in the same way, and expression
    ids renumbered in order of first appearance (as ``#_0``, ``#_1``,
    ... so an outer plan's renumbering leaves them alone). Catalyst's
    ``canonicalized`` is not used here: it orders commutative operands
    by ``hashCode``, which for an n-ary sum includes a JVM identity
    hash, so the order would change from one JVM to the next."""
    plan = cached.inputPlan() if cached.nodeName() == "AdaptiveSparkPlan" else cached
    text = _swap_caches(plan.toString(), plan)
    ids: dict[str, int] = {}
    return re.sub(
        r"#(\d+)", lambda m: f"#_{ids.setdefault(m.group(1), len(ids))}", text
    )


def _swap_caches(text: str, plan) -> str:
    """``text`` (the tree string of ``plan``) with each cached plan it
    prints replaced by :func:`_cached_text`. Longest blocks go first: a
    cache read both directly and inside another cache's plan must not
    be swapped out of the outer block before that block matches."""
    swaps = {}
    leaves = plan.collectLeaves()
    for leaf in (leaves.apply(i) for i in range(leaves.size())):
        name = leaf.nodeName()
        if name == "InMemoryTableScan":
            leaf = leaf.relation()
        elif name != "InMemoryRelation":
            continue
        cached = leaf.cachedPlan()
        swaps[cached.toString()] = _cached_text(cached)
    for raw in sorted(swaps, key=len, reverse=True):
        text = _swap_block(text, raw, swaps[raw])
    return text


def canonical_plan(df: DataFrame) -> str:
    """The OPTIMIZED logical plan in Catalyst's canonical form, with
    run-dependent tokens (paths, plan ids) normalized away — equal
    strings <=> Catalyst chose the same plan. The logical plan (not
    the executed one) is used so the fingerprint is stable across
    AQE's runtime re-planning and doesn't require executing the query.

    ``canonicalized`` is Catalyst's own normalization: expression ids
    become ordinals of the input and commutative operands are ordered,
    while literals print as they are (Catalyst prints string literals
    unquoted, so a regex over ``#<id>`` would also rewrite a literal
    like ``a#12``). It also blanks attribute and alias names, so a
    pure column rename does not change the fingerprint.

    A persisted frame shows up as an ``InMemoryRelation`` that prints
    its cached PHYSICAL plan raw, with the expression ids of whenever
    it was built; each such block is swapped for a form without them
    (:func:`_cached_text`), so the fingerprint does not depend on what
    ran earlier in the session. Inside those blocks a literal that
    looks like an expression id is renumbered too."""
    canon = df._jdf.queryExecution().optimizedPlan().canonicalized()
    plan = _swap_caches(canon.toString(), canon)
    for pat, repl in _FP_NORMALIZERS:
        plan = pat.sub(repl, plan)
    return plan


def plan_fingerprint(df: DataFrame) -> str:
    """16-hex-digit digest of canonical_plan — the per-query record
    bench.py keeps in BENCH/profile.json, so 'code unchanged => plan
    unchanged' is a mechanical diff of that file instead of an ad-hoc
    argument whenever bench wall times move."""
    import hashlib

    return hashlib.sha256(canonical_plan(df).encode()).hexdigest()[:16]
