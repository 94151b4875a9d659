"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast, shuffle counts) asserted
against the actual optimized plans, so a refactor that silently
de-optimizes a query fails CI, not the 100 TB run."""

import sys

sys.path.insert(0, "/root/repo")

import re  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _nodes(plan: str, node: str) -> int:
    """Count physical nodes by their detail headers ("(7) Exchange"),
    which appear exactly once per node (tree lines duplicate them)."""
    return len(re.findall(rf"^\(\d+\) {node}$", plan, re.M))


def _plan(spark, name: str) -> str:
    # other tests cache fixture tables; a cache hit swaps the parquet
    # scan for InMemoryRelation and hides the pushdown/pruning under test
    spark.catalog.clearCache()
    df = entrymod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q1_filter_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    # partial + final hash aggregation (map-side combine before shuffle)
    assert plan.count("HashAggregate") >= 2


def test_q1_column_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    read_schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    # 6 needed columns only — no full-row scan
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "broadcast_lookup_customers")
    assert _nodes(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_point_lookup_broadcasts_ids(spark):
    plan = _plan(spark, "point_lookup_documents")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_dedup_single_shuffle(spark):
    plan = _plan(spark, "dedup_keep_first_events")
    # one exchange for the window partitioning; no second shuffle
    assert _nodes(plan, "Exchange") == 1


def test_sessionize_single_shuffle(spark):
    plan = _plan(spark, "sessionize_events")
    # lag-window, running-sum window and groupBy all share the
    # user_id hash partitioning: exactly one shuffle exchange
    assert _nodes(plan, "Exchange") == 1


def test_preprocess_prunes_unused_document_columns(spark):
    plan = _plan(spark, "preprocess_jobs_pipeline")
    read_schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    # jobs view needs doc_id/source/text; lang and n_chars must be pruned
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_knn_no_shuffle_left_stream(spark):
    plan = _plan(spark, "knn_exact_top1")
    # blocked-BLAS tier: left side streams through mapInPandas —
    # no exchange anywhere in the plan (right side is a broadcast var)
    assert "Exchange" not in plan


def test_curation_pipeline_single_shuffle(spark):
    """curate_corpus: clean, quality, lang, scrub and digest all fuse
    into the scan; the only Exchange is the dedup window's hash
    partitioning on the 16-byte digest. (orderBy adds a range-exchange
    for output ordering — tolerated; the data-shaping shuffle is 1.)"""
    plan = _plan(spark, "curate_corpus_documents")
    # hash exchange for the dedup window + range exchange for the sort
    assert _nodes(plan, "Exchange") <= 2
    # no Python workers anywhere: the full stage chain is JVM expressions
    assert "Python" not in plan and "ArrowEval" not in plan


def test_ivf_assignment_is_shuffle_free(spark):
    """ivf_assign's bucket assignment must be a map-only pass (Arrow
    batch against broadcast centroids) — the crossJoin+window form it
    replaces shuffled n×C rows, a √n× blow-up at the auto C≈√n
    setting."""
    from job_post_similarity_spark.operators import ann
    from job_post_similarity_spark.sources.io import load_table

    spark.catalog.clearCache()
    emb = load_table(spark, SF_DIR, "embeddings")
    assigned, _ = ann.ivf_assign(emb, "embedding", n_centroids=8, n_probe=2)
    plan = assigned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """bucketBy co-location: joining two tables bucketed on the same
    key must plan a SortMergeJoin with NO shuffle exchange — the
    pre-partitioning strategy for repeated fact-fact joins at scale."""
    from job_post_similarity_spark.sources.io import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, SF_DIR, "orders")
        li = load_table(spark, SF_DIR, "lineitem")
        o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
            "o_orderkey"
        ).saveAsTable("orders_b")
        li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable("lineitem_b")
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert _nodes(plan, "Exchange") == 0
        assert "SortMergeJoin" in plan
        # result parity with the unbucketed join
        assert joined.count() == o.join(
            li, F.col("o_orderkey") == F.col("l_orderkey")
        ).count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_q6_single_stage_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    # scan-bound query: no join, single shuffle for the global agg
    assert _nodes(plan, "Exchange") == 1


def test_verify_stages_score_candidates_once(spark):
    """The Arrow-batched verify dot must appear EXACTLY ONCE in the
    SRP and IVF pair-join plans: these stages project AND filter on
    the same UDF column, and a deterministic pandas_udf gets its
    filter pushed below the projection — Catalyst then plans TWO
    ArrowEvalPython nodes and the whole candidate set is scored
    twice (the asNondeterministic mark on dot_cosine_arrow pins a
    single evaluation)."""
    # r4: SRP and IVF verifies moved to the broadcast-matrix gather
    # (one mapInPandas; candidates stay 16-byte rows — no vector
    # rejoin, so no ArrowEvalPython dot and no __v1/__v2 join columns)
    # r6: srp_lsh_similarity_pairs_fixed is the production BLAS tier
    # (the bare name now runs the deterministic Rademacher twin)
    for q in ("srp_lsh_similarity_pairs_fixed", "ivf_similarity_pairs"):
        plan = _plan(spark, q)
        assert _nodes(plan, "ArrowEvalPython") == 0, q
        assert "__v1" not in plan and "__v2" not in plan, q


def test_ivf_join_reuses_cached_assignment(spark):
    """Round-3 regression guard: ivf_similarity_join must serve BOTH
    sides of its bucket self-join from the persisted assignment — the
    unpersisted form recomputed the mapInPandas centroid pass (and the
    scan under it) twice, the r02 bench outlier."""
    from job_post_similarity_spark.operators import ann
    from job_post_similarity_spark.sources.io import load_table

    spark.catalog.clearCache()
    emb = load_table(spark, SF_DIR, "embeddings")
    try:
        pairs = ann.ivf_similarity_join(
            emb, "vec_id", "embedding", threshold=0.2, n_centroids=8
        )
        plan = pairs._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # both join inputs read the cache, not the Python map
        assert _nodes(plan, "InMemoryTableScan") == 2
        # the assignment compute (mapInPandas vs broadcast centroids)
        # lives inside the cached relation exactly once; the only other
        # MapInPandas is the r4 broadcast-gather verify in the outer
        # plan — an uncached assignment would add a third
        assert _nodes(plan, "MapInPandas") <= 2
    finally:
        spark.catalog.clearCache()


def test_strip_dup_spans_token_rebuild_is_jvm_side(spark):
    """The apply step's token filtering must be JVM expressions — the
    only acceptable Python in this plan is NONE (detection is pure
    codegen too)."""
    from job_post_similarity_spark.operators.dedup import strip_dup_spans
    from job_post_similarity_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = strip_dup_spans(docs, k=8)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "MapInPandas" not in plan


def test_chunk_documents_is_map_only(spark):
    """Chunking must ride the scan: one Generate, zero Exchange, zero
    Python."""
    from job_post_similarity_spark.operators.curation import chunk_documents
    from job_post_similarity_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = chunk_documents(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan
    # codegen suffixes the detail header ("(4) Generate [codegen id :
    # 1]"), so match the header prefix rather than _nodes' exact form
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    assert "Python" not in plan and "ArrowEval" not in plan


def test_srp_recall_sweep_orders_operating_points(spark):
    """More bands at fixed bits ⇒ recall must not DECREASE (OR-
    amplification is monotone); values land in [0, 1]."""
    import numpy as np
    import pandas as pd

    from job_post_similarity_spark.evaluate import srp_recall_sweep

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((300, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(300), "embedding": list(mat)})
    )
    res = srp_recall_sweep(
        df, param_grid=((8, 4), (8, 16), (8, 48)), n_queries=20
    )
    recalls = [r["recall"] for r in res]
    assert all(0.0 <= r <= 1.0 for r in recalls)
    assert recalls == sorted(recalls)  # monotone in bands
    assert recalls[-1] >= 0.5  # 48 bands on 300 vecs finds most top-1s


def test_segment_dedup_two_exchanges(spark):
    """line_dedup: keep-first window (hash by segment) + per-doc
    rebuild — exactly two Exchanges; segmentation itself must ride
    the scan (transform/slice, no explode before the window key)."""
    plan = _plan(spark, "line_dedup_documents")
    # 2 core shuffles + the gate's orderBy range partition
    assert _nodes(plan, "Exchange") <= 3


def test_scd2_single_exchange(spark):
    """Both windows and the run aggregate share the entity-key hash
    partitioning: one Exchange (plus the gate's sort)."""
    plan = _plan(spark, "scd2_user_events")
    srt = _nodes(plan, "Sort")
    ex = _nodes(plan, "Exchange")
    assert ex <= 2, f"expected <=2 Exchange (1 hash + 1 range), got {ex}"
    assert srt >= 1


def test_funnel_single_shuffle(spark):
    """Funnel: one shuffle to collapse events per entity; the stage
    counts come off a tiny final aggregate."""
    plan = _plan(spark, "funnel_conversion_events")
    # 1 hash (collect per user) + 1 single-partition final agg; the
    # events scan must appear ONCE (stages come from one explode, not
    # a union that re-runs the collapse per stage)
    assert _nodes(plan, "Exchange") <= 2
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_table_diff_single_join(spark):
    """Reconciliation is ONE full-outer hash join — no second pass,
    no row-hash recompute join."""
    plan = _plan(spark, "table_diff_events")
    assert _nodes(plan, "SortMergeJoin FullOuter") + _nodes(
        plan, "ShuffledHashJoin FullOuter BuildRight"
    ) + _nodes(plan, "ShuffledHashJoin FullOuter BuildLeft") <= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_zorder_key_is_codegen(spark):
    """The Morton key must be pure JVM expressions inside codegen —
    no Python evaluation node in the plan."""
    plan = _plan(spark, "zorder_key_orders")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "codegen id" in plan


def test_new_pair_ops_have_no_cartesian(spark):
    """The blocking-based pair operators (prefix-filter Jaccard,
    basket lift, co-occurrence triangles) must never fall back to a
    cartesian/nested-loop product — candidate generation is equi-join
    blocking at every scale factor."""
    for name in (
        "prefix_jaccard_docs",
        "basket_lift_lineitem",
        "triangle_counts_suppliers",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bpe_merge_pairs_aggregates_vocab_before_explode(spark):
    """BPE pair counting must aggregate the token stream to the
    distinct-word table BEFORE the 2-gram explode — the explode
    (Generate) has to sit above the word-count aggregate, not
    directly over the scan."""
    plan = _plan(spark, "bpe_merge_pairs_documents")
    assert "CartesianProduct" not in plan
    gen = plan.find("Generate")         # token explode over the scan
    gen2 = plan.rfind("Generate")       # 2-gram explode
    agg = plan.find("HashAggregate")
    assert gen != -1 and gen2 != gen and agg != -1


def test_pagerank_fast_path_skips_node_list(spark, monkeypatch):
    """every_node_receives=True + the iteration-1 specialization:
    the plan must not contain the node-list Union/distinct, and the
    first contribution pass is join-free (joins only appear for
    iterations 2+ → exactly iterations-1 rank joins)."""
    from job_post_similarity_spark.operators.graph import pagerank

    # a symmetric graph from a local relation: the edge input itself
    # holds no Union, so any Union in the loop's plan is the node list
    pairs = [(a, b) for a in range(6) for b in (a + 1, a + 2) if b < 6]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    # pagerank returns the loop's ranks localCheckpointed: capture the
    # optimized plan they are checkpointed from
    plans = []
    frame_type = type(edges)
    checkpoint = frame_type.localCheckpoint

    def capture(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_type, "localCheckpoint", capture)
    iterations = 3

    def loop_plan(fast: bool) -> str:
        plans.clear()
        assert pagerank(
            edges, iterations=iterations, every_node_receives=fast
        ).count() == 6
        (plan,) = plans
        return plan

    fast, slow = loop_plan(True), loop_plan(False)
    assert len(re.findall(r"\bJoin Inner\b", fast)) == iterations - 1
    assert "Union" not in fast and "Join LeftOuter" not in fast
    # the slow path's node list, so the patterns above can fire
    assert "Union" in slow
    assert len(re.findall(r"\bJoin LeftOuter\b", slow)) == iterations


def test_binary_quantize_no_exchange(spark):
    """Sign-bit packing is a pure map-side expression: zero shuffles,
    and the scan reads only the two needed columns."""
    from job_post_similarity_spark.operators.knn import binary_quantize
    from job_post_similarity_spark.sources.io import load_table

    spark.catalog.clearCache()
    df = binary_quantize(load_table(spark, SF_DIR, "embeddings"))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert _nodes(plan, "Exchange") == 0
    read_schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "label" not in read_schema


def test_fim_transform_no_exchange(spark):
    """FIM split is map-side only — token split, modular draws,
    slices, concat; no shuffle anywhere in the plan."""
    plan = _plan(spark, "fim_transform_documents")
    # the gate adds an orderBy for deterministic output; allow only
    # the final sort's range exchange, nothing upstream of it
    assert _nodes(plan, "Exchange") <= 1


def test_rrf_fuse_single_aggregate_shuffle(spark):
    """RRF fusion over producer-bounded lists: the fused aggregate
    and the final TakeOrdered must not add more than the expected
    exchanges (one per rank window input + one fuse aggregate)."""
    plan = _plan(spark, "rrf_hybrid_documents")
    assert "TakeOrderedAndProject" in plan


def test_token_budget_mixture_single_window_shuffle(spark):
    """One hash exchange for the per-source window (plus the gate's
    deterministic output sort) — the fact table is shuffled once."""
    from job_post_similarity_spark.operators.sampling import (
        token_budget_mixture,
    )
    from job_post_similarity_spark.sources.io import load_table

    spark.catalog.clearCache()
    df = token_budget_mixture(
        load_table(spark, SF_DIR, "documents"), {"src0": 300}
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert _nodes(plan, "Exchange") == 1


def test_keep_best_single_cluster_shuffle(spark):
    """Both windows (rank + cluster size) share the cluster-key
    partitioning: exactly one hash exchange."""
    from job_post_similarity_spark.operators.dedup import (
        keep_best_in_cluster,
    )
    from job_post_similarity_spark.sources.io import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.length("text").alias("q"),
    )
    df = keep_best_in_cluster(docs, "fp", "q", "doc_id")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert _nodes(plan, "Exchange") == 1
