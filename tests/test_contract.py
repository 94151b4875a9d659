"""Driver-contract guards: the shapes __spark_entry__ promises the
round driver, so a refactor can't silently break the correctness
gate."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402


def test_oracle_keys_subset_of_queries():
    q = set(entrymod.queries().keys())
    o = set(entrymod.oracle_sql().keys())
    assert o <= q, f"oracle-only keys: {o - q}"


def test_pending_oracles_disjoint_from_registered():
    """check_oracles.py --pending merges _PENDING_ORACLES OVER
    oracle_sql() on duplicate keys, so a stale pending entry would
    silently shadow the graded SQL (the round-4 semantic_dedup
    near-miss mechanism; VERDICT r10 item 3). oracle_sql() skips
    every _STAGED name and _PENDING_ORACLES holds only those —
    this pins that invariant against a future staging edit."""
    pending = set(entrymod._PENDING_ORACLES)
    registered = set(entrymod.oracle_sql())
    assert pending & registered == set(), (
        f"pending entries shadow registered oracles: "
        f"{sorted(pending & registered)}"
    )
    # and every still-pending gate must have a queries() entry
    # (staged = written but not yet windowed, never orphaned)
    assert pending <= set(entrymod.queries()), (
        f"orphaned pending oracles: "
        f"{sorted(pending - set(entrymod.queries()))}"
    )


def test_graded_window_is_first_50_and_oracle_backed():
    """The driver grades exactly the first 50 queries() entries; the
    rotation policy requires each to be oracle-backed and the
    committed ordering to match the current round's window tuple."""
    q = list(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert tuple(q[:50]) == entrymod._R12_WINDOW
    missing = [k for k in q[:50] if k not in o]
    assert not missing, f"window entries without oracle SQL: {missing}"


def test_all_queries_callable_and_named():
    qs = entrymod.queries()
    assert len(qs) >= 60
    for name, fn in qs.items():
        assert callable(fn), name


def test_entry_returns_lazy_dataframe(spark):
    df = entrymod.entry(spark)
    assert set(df.columns) == {"id1", "id2", "similarity"}


def test_oracle_sql_parses_in_duckdb():
    """Every oracle statement must at least PREPARE against the real
    sf0.001 tables — catches SQL syntax drift without full execution."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        except Exception as e:  # pragma: no cover
            raise AssertionError(f"oracle '{name}' failed to parse: {e}")


def test_oracle_backed_outputs_are_flat_and_decimal_free(spark, sf_dir):
    """Driver-hashability guard (round-4 lesson: 3 gates errored).

    The driver canonicalizes results through pandas, which cannot
    sort/hash list cells and renders Decimal engine-dependently — so
    every ORACLE-BACKED query (registered or staged) must project a
    FLAT, Decimal-free schema.  Mostly schema-only (plans build
    lazily), but NOT free of Spark jobs: gates built on
    global_rank/global_ntile run their offsets collect at
    plan-build time, and driver-trained gates (sq8 grids, BPE
    merges, SRP planner counts) run full jobs during construction —
    the sweep takes a few minutes, not seconds (ADVICE r5)."""
    from pyspark.sql import types as T

    bad_types = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)
    qs = entrymod.queries()
    gated = set(entrymod.oracle_sql()) | set(entrymod._PENDING_ORACLES)
    offenders = []
    for name in gated:
        if name not in qs:
            continue
        if name.startswith("stream_"):
            # streaming twins execute on build (awaitTermination) —
            # their batch-oracle outputs are covered by their own
            # gates; skip the expensive build here
            continue
        try:
            schema = qs[name](spark, sf_dir).schema
        except Exception as e:  # pragma: no cover
            offenders.append(f"{name}: plan build failed: {e}")
            continue
        for f in schema.fields:
            if isinstance(f.dataType, bad_types):
                offenders.append(
                    f"{name}.{f.name}: {f.dataType.simpleString()}"
                )
    assert not offenders, offenders


def test_load_table_sets_nanos_conf_itself(spark, sf_dir):
    """The round driver runs queries in ITS OWN SparkSession; events
    reads must not depend on our session factory having set the
    nanosAsLong conf."""
    from job_post_similarity_spark.sources.io import load_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = load_table(spark, sf_dir, "events")
        assert df.count() > 0
        assert dict(df.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_bench_headline_queries_exist():
    """Every bench.py headline name must resolve in queries() — guards
    against rename drift silently shrinking the bench suite."""
    import bench
    import __spark_entry__ as entrymod

    names = bench.HEADLINE
    assert len(names) >= 19
    missing = [n for n in names if n not in entrymod.queries()]
    assert not missing, f"bench names missing from queries(): {missing}"


def test_readme_registry_counts():
    """The README's headline registry claim (N queries / M with oracle
    SQL, R registered + S staged) must match the live registry —
    VERDICT r7 item 7: the counts drifted two rounds running when
    they were maintained by hand."""
    import os
    import re

    import __spark_entry__ as m

    n_q = len(m.queries())
    oracles = set(m.oracle_sql())
    staged = set(m._PENDING_ORACLES) - oracles
    readme = open(
        os.path.join(os.path.dirname(__file__), "..", "README.md")
    ).read()
    mt = re.search(
        r"\((\d+) queries, (\d+) with DuckDB oracle SQL —\s*"
        r"(\d+) registered \+ (\d+) staged",
        readme,
    )
    assert mt, "README registry-count sentence not found / reworded"
    got = tuple(int(g) for g in mt.groups())
    want = (n_q, len(oracles) + len(staged), len(oracles), len(staged))
    assert got == want, f"README says {got}, registry is {want}"
    # no SECOND hand-maintained count elsewhere in the README (r8
    # verdict: the Correctness section carried a stale duplicate)
    assert not re.search(r"returns \d+ named queries", readme), (
        "README states a query count outside the pinned header sentence"
    )


def test_no_unreferenced_package_defs():
    """Every top-level def/class in the package is referenced outside
    its own definition somewhere in the package, the entry module,
    bench.py, perfbench/, tools/ or tests/ (word-boundary match, so a
    string or comment counts as a reference). No allowlist: a name
    nothing reaches is deleted, not excused."""
    import ast
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "job_post_similarity_spark")
    paths = [os.path.join(repo, "__spark_entry__.py"),
             os.path.join(repo, "bench.py")]
    for top in (pkg, *(os.path.join(repo, d)
                       for d in ("perfbench", "tools", "tests"))):
        for d, _, fs in os.walk(top):
            paths += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    src = {p: open(p).read() for p in paths}
    dead = []
    for path, text in src.items():
        if not path.startswith(pkg + os.sep):
            continue
        lines = text.splitlines(keepends=True)
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            own = "".join(lines[node.lineno - 1:node.end_lineno])
            refs = sum(len(word.findall(t)) for t in src.values())
            if refs == len(word.findall(own)):
                dead.append(f"{os.path.relpath(path, repo)}:"
                            f"{node.lineno} {node.name}")
    assert not dead, f"unreferenced package defs: {dead}"
