"""Physical-plan text and fingerprints (SURVEY.md §4).

The engine's scale story rests on claims about the PLANS, not just the
results. :func:`formatted_plan` is the text the plan probes in
tests/plan_probes.py assert on (pushdown, pruning, broadcast, codegen,
exchange counts) and tools/dump_plans.py writes to PLANS.md;
:func:`plan_fingerprint` hashes a canonical form of it, so bench.py
can record when a plan changes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


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
