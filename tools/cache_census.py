"""Static census of cached relations and their layout policies.

Every DataFrame cache on a query path must route through
``job_post_similarity_spark.caching`` (``.transform(cache_auto)`` or
``.transform(cache_pinned(...))``) so its AQE-layout decision is
explicit — see caching.py for why (the
``canChangeCachedPlanOutputPartitioning`` fallout class from round
12). This tool lists every call site with its policy and, in strict
mode (the default; ``--report-only`` disables), EXITS 1 on any bare
``.persist(...)`` call left outside caching.py — a new cached relation
cannot land without declaring how it is laid out. RDD-level
``.rdd.persist(...)`` sites are outside DataFrame cache planning and
are allowlisted (listed, not failed). Sites are found in the parsed
AST, not the text: calls with a storage level or split over lines
count, the words in comments and strings do not. Each site is
reported at the line of its ``.persist`` / ``.transform`` attribute.

Writes CACHE_CENSUS.md and prints one JSON summary line.

Usage: python tools/cache_census.py [--report-only]
"""

from __future__ import annotations

import ast
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCAN = ["__spark_entry__.py", "bench.py", "job_post_similarity_spark"]
HELPER = os.path.join("job_post_similarity_spark", "caching.py")


def py_files():
    for root in SCAN:
        p = os.path.join(REPO, root)
        if os.path.isfile(p):
            yield root
            continue
        for dirpath, _dirs, files in os.walk(p):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.relpath(os.path.join(dirpath, f), REPO)


def _sites(src: str):
    """Yield ``(line, kind, detail)`` for every cache call in ``src``:
    kind is "auto" / "pinned" (``.transform(cache_auto)`` /
    ``.transform(cache_pinned(...))``), "rdd" (``<x>.rdd.persist(...)``)
    or "bare" (any other ``.persist(...)``)."""
    for node in ast.walk(ast.parse(src)):
        if not (
            isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        ):
            continue
        fn = node.func
        if fn.attr == "persist":
            recv = fn.value
            rdd = isinstance(recv, ast.Attribute) and recv.attr == "rdd"
            kind = "rdd" if rdd else "bare"
            yield fn.end_lineno, kind, ast.get_source_segment(src, node)
        elif fn.attr == "transform" and len(node.args) == 1:
            arg = node.args[0]
            if isinstance(arg, ast.Name) and arg.id == "cache_auto":
                yield fn.end_lineno, "auto", ""
            elif (
                isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Name)
                and arg.func.id == "cache_pinned"
            ):
                inner = ", ".join(
                    ast.get_source_segment(src, a)
                    for a in [*arg.args, *arg.keywords]
                )
                yield fn.end_lineno, "pinned", inner


def main() -> None:
    strict = "--report-only" not in sys.argv
    rows = []       # (file, line, policy, detail)
    violations = [] # (file, line, text)
    rdd_sites = []
    for rel in py_files():
        if rel == HELPER:
            continue
        with open(os.path.join(REPO, rel)) as fh:
            src = fh.read()
        for i, kind, detail in sorted(_sites(src)):
            if kind == "rdd":
                rdd_sites.append((rel, i))
            elif kind == "bare":
                violations.append((rel, i, " ".join(detail.split())))
            elif kind == "auto":
                rows.append((rel, i, "auto", "AQE byte-sized re-layout"))
            else:
                rows.append((
                    rel, i, "pinned",
                    f"explicit defaultParallelism({detail})",
                ))
    out = [
        "# CACHE CENSUS — cached relations and their layout policies",
        "",
        "Generated by tools/cache_census.py. Every DataFrame cache on a",
        "query path routes through `caching.cache_auto` /",
        "`caching.cache_pinned` (see caching.py for the policy",
        "rationale); a bare `.persist(...)` call (found in the AST:",
        "storage-level and multi-line calls count, comments and",
        "strings do not) fails the strict gate in tools/verify_all.py.",
        "",
        "| file:line | policy | layout |",
        "|---|---|---|",
    ]
    for rel, i, policy, detail in sorted(rows):
        out.append(f"| {rel}:{i} | {policy} | {detail} |")
    out += [
        "",
        f"RDD-level persists (outside DataFrame cache planning): "
        f"{', '.join(f'{r}:{i}' for r, i in rdd_sites) or 'none'}",
        "",
    ]
    if violations:
        out.append("## VIOLATIONS (bare DataFrame .persist(...))")
        for rel, i, text in violations:
            out.append(f"- {rel}:{i}: `{text}`")
    with open(os.path.join(REPO, "CACHE_CENSUS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    n_auto = sum(1 for r in rows if r[2] == "auto")
    n_pin = sum(1 for r in rows if r[2] == "pinned")
    print(json.dumps({
        "metric": "cache_census",
        "auto": n_auto,
        "pinned": n_pin,
        "rdd": len(rdd_sites),
        "violations": [f"{r}:{i}" for r, i, _ in violations],
    }))
    if strict and violations:
        sys.exit(1)


if __name__ == "__main__":
    main()
