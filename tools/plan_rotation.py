"""Next-round graded-window rotation planner.

The driver grades exactly the FIRST 50 ``queries()`` entries. The
rotation policy (NOTES.md): every oracle-backed entry must be green in
some round's CORRECTNESS file; never-graded oracle gates get window
priority; prior-green gates park at 51+; rows-only tiers trail.

This tool computes the recommended next-round ordering from the
current registry + CORRECTNESS history:

1. never-graded oracle-backed gates (including the _STAGED ones,
   whose names must be dropped from _STAGED when they enter the
   window) — window priority, oldest-staged first;
2. prior-green canaries fill any window slack — OLDEST-GRADING
   FIRST (VERDICT r8 item 8): canaries sort by the round their
   grading last passed, ascending, so no green entry can go stale
   beyond ceil(n_oracles / slack) rounds — with md5(f"r{round}:
   {name}") as the within-round tie-break so equally-stale gates
   still rotate deterministically (drift insurance; VERDICT r6
   item 6). Pass ``--round N`` (default: next CORRECTNESS_r index).
3. everything else keeps relative order.

Prints the plan; ``--emit-order`` prints the full python list literal
to paste into queries().

Usage: python tools/plan_rotation.py [--round N] [--emit-order]
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys


def canary_sort_key(round_no: int, name: str) -> str:
    """Deterministic per-round shuffle key for canary selection."""
    return hashlib.md5(f"r{round_no}:{name}".encode()).hexdigest()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import __spark_entry__ as m

    queries = list(m.queries())
    oracles = set(m.oracle_sql())
    pending = list(m._PENDING_ORACLES)
    import re

    graded: set = set()
    last_graded: dict = {}
    correctness_files = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    for f in correctness_files:
        # round index PARSED from the filename, not the sort position:
        # the staleness semantics must survive a CORRECTNESS_r100.json
        # (lexicographically before r11) or an unpadded r9
        i = int(re.search(r"_r0*(\d+)\.json$", f).group(1))
        names = set(json.load(open(f)))
        graded |= names
        for q in names:
            last_graded[q] = max(i, last_graded.get(q, 0))

    round_no = len(correctness_files) + 1
    if "--round" in sys.argv:
        round_no = int(sys.argv[sys.argv.index("--round") + 1])

    never_graded = [
        q for q in queries
        if (q in oracles or q in pending) and q not in graded
    ]
    prior_green = [
        q for q in queries if q in oracles and q in graded
    ]
    rows_only = [
        q for q in queries
        if q not in oracles and q not in pending
    ]

    window = never_graded[:50]
    slack = 50 - len(window)
    rotated = sorted(
        prior_green,
        key=lambda q: (
            last_graded.get(q, 0),
            canary_sort_key(round_no, q),
        ),
    )
    canaries = rotated[:slack] if slack > 0 else []
    rest = (
        never_graded[50:]
        + [q for q in prior_green if q not in canaries]
        + rows_only
    )
    order = window + canaries + rest

    backed = oracles | set(pending)  # disjoint: oracle_sql() skips
    # every _STAGED name, and _PENDING_ORACLES holds only those
    print(f"queries: {len(queries)}  oracle-backed: "
          f"{len(backed)} ({len(set(pending) - oracles)} staged-only)  "
          f"graded-green history: {len(graded & set(queries))}")
    print(f"round: {round_no} (canary rotation key = "
          f"md5('r{round_no}:<name>'))")
    # staleness bound (VERDICT r11 item 8): with oldest-grading-first
    # canaries, no green gate waits longer than ceil(oracles/slack)
    # rounds for a re-grade; watch this as the registry grows. With
    # zero slack (never-graded gates fill the window) no bound holds
    # this round — say so instead of printing a false one.
    if slack > 0:
        cycle = -(-len(backed) // slack)
        print(f"re-grade cycle bound: ceil({len(backed)}/{slack}) "
              f"= {cycle} rounds (no green gate staler than that)")
    else:
        print("re-grade cycle bound: NONE this round (never-graded "
              "gates fill the window; no canaries rotate)")
    print(f"never-graded oracle gates: {len(never_graded)}")
    print(f"  -> window: {len(window)} never-graded"
          f" + {len(canaries)} rotated canaries")
    overflow = never_graded[50:]
    if overflow:
        print(f"  !! {len(overflow)} never-graded gates OVERFLOW the "
              f"window and wait another round: {overflow}")
    pend_in_window = [q for q in window if q in pending]
    if pend_in_window:
        print(f"  drop {len(pend_in_window)} names from _STAGED "
              "as they enter the window")
    if "--emit-order" in sys.argv:
        print("\nORDER = [")
        for q in order:
            print(f"    {q!r},")
        print("]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
