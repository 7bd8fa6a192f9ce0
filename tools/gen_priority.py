"""Generate catalog.PRIORITY — the driver's 50-slot oracle window —
from the driver's own grade history (r3 VERDICT #2: the hand-curated
150-line PRIORITY comment block was the likeliest place for a silent
rotation mistake; this tool makes the rotation mechanical and
auditable).

Policy (exactly the rotation discipline rounds 2–3 used by hand):

1. ANCHORS are pinned first, in order — the flagship geo value-oracles
   plus the reference-analytics chain kept for round-over-round
   continuity.
2. The remaining slots go to FULL oracles that have NEVER been
   driver-graded (no CORRECTNESS_r*.json carries them), novelty-first:
   non-TPC-H entries in catalog declaration order, then the plain-
   Catalyst ``sql_tpch_q*`` tail (lowest risk, so last in line — they
   queue for the following round if the window overflows).
3. If slots remain after the never-graded queue is exhausted, they are
   back-filled with the LEAST-RECENTLY-graded green entries (oldest
   grade first, catalog order as tie-break) so every oracle keeps
   re-earning its grade over time.
4. Rows-only entries (spec.sql is None) never occupy a window slot —
   their correctness signal is pytest, and the driver's rows-only
   check would waste a full-oracle slot.

Invariants asserted on the emitted window: exactly WINDOW names, all
distinct, all in the catalog, anchors first, and no never-graded full
oracle displaced by an already-graded entry.

The generated block is stamped with the grade-history snapshot it was
derived from (``# generated-from-rounds: 1,2,3``).  ``--check`` replays
generation against exactly that stamped snapshot, so a driver-deposited
``CORRECTNESS_r{N}.json`` landing AFTER the block was applied can never
retroactively redden CI (r4 VERDICT "What's wrong" #1: the unstamped
gate broke the moment the driver graded round 4).  The gate therefore
catches what it is for — hand edits that diverge from the rotation
policy — while the default (stampless) mode proposes the NEXT window
from all grades on disk.

Usage::

    python tools/gen_priority.py            # print the next window + audit
    python tools/gen_priority.py --check    # exit 1 unless catalog.py
                                            # PRIORITY == regeneration from
                                            # its own stamped snapshot
    python tools/gen_priority.py --apply    # rewrite the marked block
                                            # in catalog.py in place,
                                            # stamped with today's rounds
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WINDOW = 50
ANCHORS = (
    "geo_pip_join_exact",
    "geo_knn_join_exact",
    "geo_tile_agg",
    "rollup_res_ladder",
    "ref_user_features",
)
CATALOG_PY = os.path.join(ROOT, "osm_data_classification_spark", "catalog.py")
BEGIN = "# --- BEGIN GENERATED WINDOW (tools/gen_priority.py) ---"
END = "# --- END GENERATED WINDOW ---"


def round_files() -> dict[int, str]:
    """Round number -> its CORRECTNESS_r{N}.json on disk, padded or not."""
    files = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            files[int(m.group(1))] = path
    return files


def available_rounds() -> list[int]:
    """Rounds with a CORRECTNESS_r{N}.json on disk, ascending."""
    return sorted(round_files())


def grade_history(rounds: list[int] | None = None) -> dict[str, int]:
    """name -> latest round in which the driver graded it.

    ``rounds`` restricts the snapshot (the --check replay passes the
    stamped list so later driver deposits cannot change the answer).
    """
    files = round_files()
    if rounds is None:
        rounds = sorted(files)
    latest: dict[str, int] = {}
    for rnd in rounds:
        if rnd not in files:
            # stamped round file was removed — treat as empty, loudly
            print(f"warning: stamped round {rnd} has no file", file=sys.stderr)
            continue
        for name in json.load(open(files[rnd])):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def generate(
    rounds: list[int] | None = None,
) -> tuple[list[str], dict[str, list[str]]]:
    from osm_data_classification_spark.catalog import raw_catalog

    cat = raw_catalog()
    graded = grade_history(rounds)
    full = [n for n, s in cat.items() if s.sql is not None]
    order = {n: i for i, n in enumerate(cat)}  # catalog declaration order

    for a in ANCHORS:
        assert a in cat and cat[a].sql is not None, f"bad anchor {a}"

    never = [n for n in full if n not in graded and n not in ANCHORS]
    # novelty-first: the plain-Catalyst TPC-H tail yields to everything
    never.sort(key=lambda n: (n.startswith("sql_tpch_q"), order[n]))
    window = list(ANCHORS) + never[: WINDOW - len(ANCHORS)]
    spill = never[WINDOW - len(ANCHORS):]

    refill: list[str] = []
    if len(window) < WINDOW:
        stale = [n for n in full if n in graded and n not in window]
        stale.sort(key=lambda n: (graded[n], order[n]))
        refill = stale[: WINDOW - len(window)]
        window += refill

    # hard invariants the hand-maintained block could silently break
    assert len(window) == WINDOW and len(set(window)) == WINDOW
    assert all(n in cat and cat[n].sql is not None for n in window)
    assert tuple(window[: len(ANCHORS)]) == ANCHORS
    displaced = [n for n in never if n not in window]
    assert all(n.startswith("sql_tpch_q") for n in displaced) or not refill, (
        "a never-graded full oracle was displaced by a graded refill"
    )
    audit = {
        "never_graded_in_window": [n for n in window if n not in graded],
        "refill_regrades": refill,
        "spill_to_next_round": spill,
    }
    return window, audit


def render(
    window: list[str], audit: dict[str, list[str]], rounds: list[int]
) -> str:
    lines = [BEGIN]
    lines.append(
        "    # generated-from-rounds: "
        + (",".join(str(r) for r in rounds) if rounds else "none")
    )
    lines.append("    # anchors (pinned, round-over-round continuity):")
    for n in window[: len(ANCHORS)]:
        lines.append(f'    "{n}",')
    lines.append(
        "    # never-driver-graded full oracles, novelty-first "
        "(TPC-H tail last):"
    )
    for n in window[len(ANCHORS):]:
        lines.append(f'    "{n}",')
    if audit["spill_to_next_round"]:
        lines.append(
            "    # spilled to the next round's window (still never "
            "graded):"
        )
        for n in audit["spill_to_next_round"]:
            lines.append(f"    #   {n}")
    lines.append("    " + END)
    return "\n".join(lines)


def current_priority() -> tuple[str, ...]:
    from osm_data_classification_spark.catalog import PRIORITY

    return PRIORITY


def stamped_rounds() -> list[int]:
    """Parse the generated block's snapshot stamp out of catalog.py."""
    src = open(CATALOG_PY).read()
    m = re.search(r"# generated-from-rounds: ([0-9,]+|none)", src)
    if not m:
        raise SystemExit(
            "no '# generated-from-rounds:' stamp inside the generated block "
            f"of {CATALOG_PY} — re-run --apply to stamp it"
        )
    if m.group(1) == "none":
        return []
    return [int(x) for x in m.group(1).split(",")]


def apply(block: str) -> None:
    src = open(CATALOG_PY).read()
    pat = re.compile(
        re.escape(BEGIN) + r".*?" + re.escape(END), flags=re.DOTALL
    )
    if not pat.search(src):
        raise SystemExit(f"markers not found in {CATALOG_PY}")
    new = pat.sub(block.replace("\\", "\\\\"), src, count=1)
    open(CATALOG_PY, "w").write(new)


def main() -> None:
    if "--check" in sys.argv:
        # Replay generation against the snapshot the committed block
        # was derived from — NOT whatever grade files exist today.
        rounds = stamped_rounds()
    else:
        rounds = available_rounds()
    window, audit = generate(rounds)
    block = render(window, audit, rounds)
    if "--apply" in sys.argv:
        apply(block)
        print(
            f"applied {len(window)}-slot window to {CATALOG_PY} "
            f"(snapshot: rounds {rounds})"
        )
    elif "--check" in sys.argv:
        cur = current_priority()
        ok = tuple(window) == cur
        if not ok:
            gen_s, cur_s = set(window), set(cur)
            print("MISMATCH")
            print("  in generated, not in catalog.py:", sorted(gen_s - cur_s))
            print("  in catalog.py, not in generated:", sorted(cur_s - gen_s))
            for i, (g, c) in enumerate(zip(window, cur)):
                if g != c:
                    print(f"  first divergence at slot {i}: {g!r} vs {c!r}")
                    break
            sys.exit(1)
        print(
            f"OK: catalog.PRIORITY matches regeneration from its stamped "
            f"snapshot (rounds {rounds})"
        )
    else:
        print(block)
        print()
        for k, v in audit.items():
            print(f"{k} ({len(v)}):", ", ".join(v) if v else "—")


if __name__ == "__main__":
    main()
