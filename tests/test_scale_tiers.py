"""Scale-tier properties added in round 2:

- large-star/small-star connected components: equal to min-label
  propagation on chains/stars/random graphs, and O(log n) rounds on a
  long chain (min-label would need O(diameter) rounds there).
- the streaming MinHash signature store is a bucketed table on
  (band, bucket): the accumulated store side of the per-batch
  candidate join plans with ZERO Exchange.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from job_post_similarity_spark.operators import dedup


def _labels(df):
    return {(r["id"], r["component"]) for r in df.collect()}


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "id1 long, id2 long")


@pytest.mark.parametrize(
    "pairs",
    [
        [(1, 2), (2, 3), (3, 4), (10, 11)],          # two chains
        [(5, 1), (5, 2), (5, 3), (5, 4)],            # star, hub not min
        [(1, 2), (3, 4), (2, 3), (7, 8), (8, 9), (4, 1)],  # cycle + chain
        [(2, 1)],                                    # single edge, reversed
    ],
)
def test_cc_star_matches_min_label(spark, pairs):
    pdf = _pairs_df(spark, pairs)
    assert _labels(dedup.connected_components_star(pdf)) == _labels(
        dedup.connected_components(pdf)
    )


def test_cc_star_random_graph_matches_min_label(spark):
    import random

    rng = random.Random(7)
    pairs = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(80)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    pdf = _pairs_df(spark, pairs)
    assert _labels(dedup.connected_components_star(pdf)) == _labels(
        dedup.connected_components(pdf)
    )


def test_cc_star_long_chain_converges_in_log_rounds(spark):
    """The tier's reason to exist: a length-N path has diameter N, so
    min-label needs ~N rounds; star contraction must stay ≤
    ceil(log2 N) + c."""
    n = 256
    chain = _pairs_df(spark, [(i, i + 1) for i in range(n)])
    labels, rounds = dedup._cc_star_with_rounds(chain, max_iter=30)
    got = {(r["id"], r["component"]) for r in labels.collect()}
    assert got == {(i, 0) for i in range(n + 1)}
    assert rounds <= math.ceil(math.log2(n)) + 4


def test_shard_topk_matches_broadcast_knn(spark, embeddings):
    """The sharded-serving tier (queries broadcast, corpus resident)
    must return exactly what the broadcast-corpus tier returns on the
    numpy path — same contract, inverted data movement."""
    from job_post_similarity_spark.operators import ann, knn

    queries = embeddings.filter(F.col("vec_id") < 7)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["similarity"])
        for r in ann.shard_topk_search(queries, embeddings, k=3).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["similarity"], 4))
        for r in knn.knn_join(
            queries, "vec_id", "embedding", k=3, right=embeddings
        ).collect()
    }
    assert got == want


def test_ivf_topk_search_full_probe_matches_exact(spark, embeddings):
    """With n_probe == n_centroids the candidate set is the whole
    corpus, so IVF-Flat search must return EXACTLY the blocked-BLAS
    tier's answer (same tie-break contract) — isolates the
    probe/join/merge plumbing from the recall knob."""
    from job_post_similarity_spark.operators import ann, knn

    queries = embeddings.filter(F.col("vec_id") < 7)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["similarity"])
        for r in ann.ivf_topk_search(
            queries, embeddings, k=3, n_centroids=4, n_probe=4
        ).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["similarity"], 4))
        for r in knn.knn_join(
            queries, "vec_id", "embedding", k=3, right=embeddings
        ).collect()
    }
    assert got == want


def test_ivf_topk_search_planted_twin_and_pruning(spark, embeddings):
    """Partial probing: a query identical to a corpus vector must land
    in that vector's build bucket (stable-sort contract both sides)
    and retrieve it top-1 at sim 1.0; and with 2/16 probes the
    candidate set must actually be pruned (fewer scored candidates
    than the corpus)."""
    from job_post_similarity_spark.operators import ann

    twins = embeddings.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = ann.ivf_topk_search(
        twins, embeddings, k=1, n_centroids=16, n_probe=2
    ).collect()
    assert len(out) == 10
    for r in out:
        assert r["neighbor_id"] == r["query_id"] - 100000
        assert r["similarity"] == 1.0


def test_ivf_topk_search_empty_query_set(spark, embeddings):
    from job_post_similarity_spark.operators import ann

    empty = embeddings.filter(F.col("vec_id") < 0)
    out = ann.ivf_topk_search(empty, embeddings, k=2, n_centroids=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "similarity", "rank",
    ]


def test_ivf_topk_search_prebuilt_assignment_parity(spark, embeddings):
    """The index_store serving path: searching against a precomputed
    (assignment, centers) artifact must equal the build-from-scratch
    answer."""
    from job_post_similarity_spark.operators import ann

    queries = embeddings.filter(F.col("vec_id") < 5)
    assigned, centers = ann.ivf_assign(
        embeddings, "embedding", n_centroids=8, n_probe=1, seed=42
    )
    fresh = ann.ivf_topk_search(
        queries, embeddings, k=2, n_centroids=8, n_probe=3, seed=42
    )
    served = ann.ivf_topk_search(
        queries, embeddings, k=2, n_probe=3,
        prebuilt=(assigned, centers),
    )
    assert sorted(map(tuple, fresh.collect())) == sorted(
        map(tuple, served.collect())
    )


def test_shard_topk_query_budget_guard(spark, embeddings):
    import pytest as _pytest

    from job_post_similarity_spark.operators import ann

    with _pytest.raises(ValueError, match="query side exceeds"):
        ann.shard_topk_search(
            embeddings, embeddings, k=1, max_query_rows=10
        )


def test_gate_queries_are_session_independent(spark):
    """Driver-environment simulation: a session NOT built by our
    factory — non-UTC timezone, none of get_spark's confs — must
    produce the same rows as our UTC session for timestamp-sensitive
    gate queries (load_table pins the runtime confs itself)."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    names = [
        "q3_shipping_priority",       # raw timestamp output
        "date_extract_orders",        # year() extraction
        "dedup_keep_first_events",    # nanos events ordering
        "parse_dates_documents",      # string → timestamp parse
    ]
    qs = entry_mod.queries()
    baseline = {n: sorted(map(tuple, qs[n](spark, sf).collect())) for n in names}

    alien = spark.newSession()
    alien.conf.set("spark.sql.session.timeZone", "America/New_York")
    alien.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        for n in names:
            got = sorted(map(tuple, qs[n](alien, sf).collect()))
            assert got == baseline[n], n
    finally:
        alien.conf.set("spark.sql.session.timeZone", "UTC")


def test_word_ngrams_short_text_yields_no_partial_grams(spark):
    """Regression lock: texts with fewer than n tokens produce ZERO
    shingles (the unguarded descending index sequence used to emit a
    truncated gram twice, inflating multiplicity counts)."""
    from job_post_similarity_spark.operators.dedup import word_ngrams

    rows = [(0, ""), (1, "one"), (2, "one two"), (3, "one two three"),
            (4, "a b c d e")]
    df = spark.createDataFrame(rows, "id long, text string")
    for n in (2, 3):
        got = {
            r["id"]: r["cnt"]
            for r in df.select(
                "id", F.size(word_ngrams("text", n, distinct=False)).alias("cnt")
            ).collect()
        }
        for rid, text in rows:
            n_tok = len(text.split())
            assert got[rid] == max(0, n_tok - n + 1), (n, text)


def test_random_pair_baseline_deterministic_no_self_pairs(spark, embeddings):
    from job_post_similarity_spark.operators.knn import random_pair_baseline

    a = random_pair_baseline(embeddings, "vec_id", "embedding", n_pairs=50)
    rows1 = sorted(tuple(r) for r in a.collect())
    rows2 = sorted(
        tuple(r)
        for r in random_pair_baseline(
            embeddings, "vec_id", "embedding", n_pairs=50
        ).collect()
    )
    assert rows1 == rows2  # seed-deterministic, partition-independent
    assert 0 < len(rows1) <= 50
    assert all(r[0] != r[1] for r in rows1)  # never a self-pair


def test_pq_roundtrip_shapes_determinism_and_distortion(spark, embeddings):
    """Product quantization: (a) codes/decoded shapes and determinism,
    (b) more bits ⇒ lower reconstruction error, (c) reconstruction
    beats a zero-vector baseline by a wide margin (unit vectors have
    norm 1, so mean L2 error must be well below 1)."""
    import numpy as np

    from job_post_similarity_spark.operators import ann
    from job_post_similarity_spark.functions import vectors as V

    dim = len(embeddings.first()["embedding"])
    m = 8

    def mean_err(bits):
        books = ann.pq_train(embeddings, "embedding", m=m, bits=bits)
        assert books.shape == (m, 2**bits, dim // m)
        codes = ann.pq_encode(embeddings, books, "vec_id", "embedding")
        approx = ann.pq_decode(codes, books, "vec_id")
        row = codes.first()
        assert len(row["pq_code"]) == m
        joined = embeddings.join(approx, "vec_id").select(
            F.sqrt(
                V.sq_l2_distance(
                    F.col("embedding"),
                    F.col("embedding_approx").cast("array<double>"),
                )
            ).alias("err")
        )
        return joined.agg(F.avg("err")).collect()[0][0]

    e4 = mean_err(4)
    e6 = mean_err(6)
    assert e6 < e4  # codebook size buys fidelity
    assert e6 < 0.9  # unit vectors: decoded ≉ zero baseline

    # determinism: same data + seed → identical codebooks
    b1 = ann.pq_train(embeddings, "embedding", m=m, bits=4)
    b2 = ann.pq_train(embeddings, "embedding", m=m, bits=4)
    assert np.array_equal(b1, b2)


def test_pq_adc_search_finds_planted_duplicates(spark, embeddings):
    """ADC search over compressed codes: a query identical to a corpus
    vector must rank that vector top-1 — its approximate distance is
    just the reconstruction error, far below the ~√2 separation of
    random unit vectors."""
    from job_post_similarity_spark.operators import ann

    books = ann.pq_train(embeddings, "embedding", m=8, bits=6)
    codes = ann.pq_encode(embeddings, books, "vec_id", "embedding")
    queries = embeddings.filter(F.col("vec_id") < 5)
    out = ann.pq_topk_search(
        queries, codes, books, k=3, include_self=True
    )
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in out.filter(F.col("rank") == 1).collect()
    }
    assert top1 == {i: i for i in range(5)}


def test_ivfpq_search_finds_planted_duplicates(spark, embeddings):
    """The IVF-PQ composition: a query identical to a corpus vector
    must rank that vector top-1 — the coarse quantizer routes the
    query to the bucket holding its duplicate (identical vectors get
    identical assignments), and ADC separates the reconstruction-error
    floor from random-pair distances."""
    from job_post_similarity_spark.operators import ann

    queries = embeddings.filter(F.col("vec_id") < 5)
    out = ann.ivfpq_topk_search(
        queries, embeddings, k=3, n_centroids=8, n_probe=2, m=8, bits=6,
        include_self=True,
    )
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in out.filter(F.col("rank") == 1).collect()
    }
    assert top1 == {i: i for i in range(5)}


def test_ivfpq_search_string_ids(spark, embeddings):
    """Id-type generality of the IVF-PQ path: the (query, bucket)→ADC
    table index and the probe frame must work for string keys, not
    just bigint — planted duplicates still retrieve top-1."""
    from job_post_similarity_spark.operators import ann

    named = embeddings.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    queries = named.filter(F.col("vec_id").isin("doc-0", "doc-1", "doc-2"))
    out = ann.ivfpq_topk_search(
        queries, named, k=2, n_centroids=8, n_probe=2, m=8, bits=6,
        include_self=True,
    )
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in out.filter(F.col("rank") == 1).collect()
    }
    assert top1 == {f"doc-{i}": f"doc-{i}" for i in range(3)}


def test_residual_pq_cuts_distortion_on_clustered_data(spark):
    """IndexIVFPQ's residual model: on data with cluster structure,
    quantizing x − c_bucket (residual) must reconstruct with lower
    mean L2 error than quantizing x directly at the same code budget —
    residual variance is the within-cluster variance only."""
    import numpy as np

    from job_post_similarity_spark.functions import vectors as V
    from job_post_similarity_spark.operators import ann

    # more clusters (40) than codewords per subspace (16): a raw-vector
    # codebook cannot even represent the between-cluster structure, while
    # the residual codebook only has to cover the tight within-cluster
    # scatter — the gap is structural, not a Lloyd-quality accident
    rng = np.random.default_rng(7)
    dim, n_clusters = 16, 40
    centers_true = rng.normal(size=(n_clusters, dim)) * 3.0
    rows = []
    for i in range(1200):
        c = i % n_clusters
        v = centers_true[c] + rng.normal(scale=0.15, size=dim)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    assigned, centers = ann.ivf_assign(
        df, "embedding", n_centroids=n_clusters, n_probe=1, seed=11,
        max_iter=25,
    )

    def mean_err(with_centers):
        books = ann.pq_train(
            df, "embedding", m=4, bits=4,
            centers=centers if with_centers else None, seed=11,
        )
        if with_centers:
            codes = ann.pq_encode(
                assigned, books, "vec_id", "embedding",
                centers=centers, bucket_col="bucket",
            )
            # decode residual, add the bucket's centroid back
            approx = ann.pq_decode(codes, books, "vec_id")
            cent_df = spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
                "bucket int, __cent array<double>",
            )
            approx = (
                approx.join(codes.select("vec_id", "bucket"), "vec_id")
                .join(F.broadcast(cent_df), "bucket")
                .select(
                    "vec_id",
                    F.zip_with(
                        F.col("embedding_approx").cast("array<double>"),
                        "__cent",
                        lambda a, b: a + b,
                    ).alias("embedding_approx"),
                )
            )
        else:
            codes = ann.pq_encode(df, books, "vec_id", "embedding")
            approx = ann.pq_decode(codes, books, "vec_id")
        joined = df.join(approx, "vec_id").select(
            F.sqrt(
                V.sq_l2_distance(
                    F.col("embedding"),
                    F.col("embedding_approx").cast("array<double>"),
                )
            ).alias("err")
        )
        return joined.agg(F.avg("err")).collect()[0][0]

    e_raw = mean_err(False)
    e_res = mean_err(True)
    assert e_res < e_raw * 0.8  # residual coding is decisively better


def test_pq_and_ivfpq_empty_query_sets_short_circuit(spark, embeddings):
    """Empty query frames return empty results with the right schema
    instead of crashing on 1-D empty arrays (tier contract shared with
    test_empty_input_short_circuit)."""
    from job_post_similarity_spark.operators import ann

    none = embeddings.filter(F.col("vec_id") < 0)
    books = ann.pq_train(embeddings, "embedding", m=8, bits=4)
    codes = ann.pq_encode(embeddings, books, "vec_id", "embedding")
    adc = ann.pq_topk_search(none, codes, books, k=2)
    assert adc.count() == 0
    assert adc.columns == ["query_id", "neighbor_id", "approx_similarity", "rank"]
    ivfpq = ann.ivfpq_topk_search(
        none, embeddings, k=2, n_centroids=4, m=8, bits=4
    )
    assert ivfpq.count() == 0
    assert ivfpq.columns == ["query_id", "neighbor_id", "approx_similarity", "rank"]


def test_scrub_pii_replaces_typed_spans(spark):
    from job_post_similarity_spark.functions.strings import scrub_pii

    rows = [
        (0, "mail a.b+c@x-mail.co.uk now"),
        (1, "call 555-123-4567 late"),
        (2, "ssn 123-45-6789 leaked"),
        (3, "clean text, no pii at all"),
        (4, "dot phone 555.123.4567 and space phone 555 123 4567"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["c"] for r in df.select("id", scrub_pii("text").alias("c")).collect()}
    assert got[0] == "mail [EMAIL] now"
    assert got[1] == "call [PHONE] late"
    assert got[2] == "ssn [SSN] leaked"
    assert got[3] == rows[3][1]
    assert got[4] == "dot phone [PHONE] and space phone [PHONE]"


def test_interval_join_matches_theta_join_without_nested_loop(spark, sf_dir):
    """The chunked interval join must (a) equal the naive BETWEEN
    theta join row-for-row — including intervals spanning many chunks
    and boundary-exact timestamps — and (b) plan as an equi-join
    (no BroadcastNestedLoopJoin / CartesianProduct)."""
    import re

    from job_post_similarity_spark.operators.asof import interval_join

    events = spark.createDataFrame(
        [(i, 1 if i < 8 else 2, i * 1_000_000) for i in range(12)],
        "event_id long, user_id long, ts_us long",
    )
    # intervals: multi-chunk span, boundary-exact ends, disjoint keys
    intervals = spark.createDataFrame(
        [
            (1, 0, 3_000_000, 100),          # chunk-spanning, ends on boundary
            (1, 5_000_000, 5_000_000, 101),  # degenerate single-point
            (2, 8_000_000, 11_000_000, 102),
            (2, 500_000, 600_000, 103),      # matches nothing
        ],
        "user_id long, s_us long, e_us long, iid long",
    )
    got = interval_join(
        events, intervals, "user_id", "ts_us", "s_us", "e_us",
        chunk=1_000_000,
    )
    want = events.join(
        intervals,
        (events.user_id == intervals.user_id)
        & (events.ts_us >= intervals.s_us)
        & (events.ts_us <= intervals.e_us),
    ).select(events.user_id, "event_id", "ts_us", "s_us", "e_us", "iid")
    g = sorted(tuple(r) for r in got.select("user_id", "event_id", "ts_us", "s_us", "e_us", "iid").collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w and len(g) == 4 + 1 + 4  # 0-3, the point, 8-11

    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert not re.search(r"NestedLoop|CartesianProduct", plan)


def test_rocksdb_state_store_stream_dedup_matches_batch(spark, sf_dir):
    """Stateful streaming on the RocksDB provider (the state store
    that survives keyed state outgrowing executor heap) produces the
    same kept-key set as batch DISTINCT — the provider changes where
    state lives, never what the operator computes."""
    from job_post_similarity_spark.sources.io import load_table
    from job_post_similarity_spark.streaming import (
        stream_dedup,
        use_rocksdb_state,
    )

    use_rocksdb_state(spark)
    try:
        got = {
            (r["user_id"], r["event_type"])
            for r in stream_dedup(
                spark, sf_dir, name="rocksdb_dedup_test"
            ).collect()
        }
    finally:
        use_rocksdb_state(spark, enabled=False)
    want = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


def test_stream_minhash_store_is_bucketed_no_exchange_on_store_side(
    spark, tmp_path
):
    """After a stream run, the signature store must be a bucketed table
    on (band, bucket): a self-join on the bucket keys plans with zero
    Exchange, and the store⋈new-batch join shuffles ONLY the batch side
    (exactly one Exchange in the whole plan)."""
    import pandas as pd

    from job_post_similarity_spark.streaming import stream_near_dup_minhash
    from job_post_similarity_spark.streaming.stream_ops import _sigs_table_name

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b c d e f", "g h i j k l"]}
    ).to_parquet(os.path.join(src, "b0.parquet"))
    pd.DataFrame(
        {"doc_id": [3], "text": ["a b c d e f"]}
    ).to_parquet(os.path.join(src, "b1.parquet"))

    store_dir = str(tmp_path / "store")
    stream_near_dup_minhash(
        spark, src, store_dir, ngram=2, jaccard_threshold=0.5
    )

    sigs_path = os.path.join(store_dir, "sigs")
    table = _sigs_table_name(sigs_path)
    assert spark.catalog.tableExists(table)

    def n_exchanges(df):
        import re

        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # count physical nodes by their detail headers ("(7) Exchange"),
        # which appear exactly once per node (tree lines duplicate them)
        return len(re.findall(r"^\(\d+\) Exchange$", plan, re.M))

    # --- compaction hook: many small per-batch files → 1 per bucket,
    # same rows, bucketing metadata (and the zero-Exchange join
    # property asserted below) preserved across the rebuild-and-swap
    import glob

    from job_post_similarity_spark.streaming import compact_signature_store

    before_rows = sorted(
        tuple(r) for r in spark.table(table).select("id", "band").collect()
    )
    files_before = len(glob.glob(os.path.join(sigs_path, "*.parquet")))
    files_after = compact_signature_store(spark, store_dir, store_buckets=16)
    # at toy scale the two appends may already be near-minimal, so the
    # contract is "bounded by the bucket layout, never grows" — the
    # real assertions are data equality + preserved bucketing below
    assert files_after <= files_before
    assert files_after <= 2 * 16  # bounded by tasks × buckets overlap
    after_rows = sorted(
        tuple(r) for r in spark.table(table).select("id", "band").collect()
    )
    assert after_rows == before_rows

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        store = spark.table(table)
        # store ⋈ store on the bucketing keys: fully co-located
        self_join = store.alias("a").join(
            store.alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
            ],
        )
        assert n_exchanges(self_join) == 0

        # store ⋈ new batch, batch repartitioned into the store's
        # bucket layout (what process_batch does): exactly ONE
        # Exchange in the whole plan — the batch side's — while the
        # accumulated store side reads pre-partitioned
        batch = (
            dedup.banded_minhash_signatures(
                spark.createDataFrame(
                    [(9, "a b c d e f")], "doc_id long, text string"
                ),
                "doc_id",
                "text",
                32,
                16,
                2,
            )
            .select("id", "band", "bucket")
            .repartition(16, "band", "bucket")
        )
        one_sided = store.alias("s").join(
            batch.alias("n"),
            on=[
                F.col("s.band") == F.col("n.band"),
                F.col("s.bucket") == F.col("n.bucket"),
            ],
        )
        assert n_exchanges(one_sided) == 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_sq8_encode_bounds_and_reconstruction(spark):
    """Codes live in [0,255]; decode error per dim is <= range/(2*255);
    constant dimensions encode as 0; out-of-range queries clamp."""
    from pyspark.sql import functions as F

    from job_post_similarity_spark.operators import ann

    rows = [
        (1, [0.0, 5.0, -1.0]),
        (2, [1.0, 5.0, 1.0]),
        (3, [0.5, 5.0, 0.25]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vmin, vmax = ann.sq8_train(df)
    assert vmin == [0.0, 5.0, -1.0] and vmax == [1.0, 5.0, 1.0]
    codes = {
        r["vec_id"]: r["sq8_code"]
        for r in ann.sq8_encode(df, vmin, vmax).collect()
    }
    assert codes[1] == [0, 0, 0]  # mins; constant dim -> 0
    assert codes[2] == [255, 0, 255]
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)
    # reconstruction error bound: half a grid step per dim
    for rid, vec in rows:
        for x, c, lo, hi in zip(vec, codes[rid], vmin, vmax):
            r = hi - lo
            dec = lo if r == 0 else lo + c * r / 255.0
            assert abs(dec - x) <= (r / 255.0) / 2 + 1e-12
    # out-of-range query vector clamps instead of overflowing
    q = spark.createDataFrame(
        [(9, [99.0, 99.0, -99.0])], "vec_id long, embedding array<double>"
    )
    qc = ann.sq8_encode(q, vmin, vmax).first()["sq8_code"]
    assert qc == [255, 0, 0]


def test_sq8_search_finds_planted_twin(spark, embeddings):
    """Compress the fixture corpus to 1 byte/dim; a re-keyed twin
    query must still retrieve its original as top-1."""
    from pyspark.sql import functions as F

    from job_post_similarity_spark.operators import ann

    vmin, vmax = ann.sq8_train(embeddings)
    codes = ann.sq8_encode(embeddings, vmin, vmax)
    twins = embeddings.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 7777).alias("vec_id"), "embedding"
    )
    top1 = ann.sq8_topk_search(twins, codes, vmin, vmax, k=1)
    got = {r["query_id"]: r["neighbor_id"] for r in top1.collect()}
    assert got == {7777 + i: i for i in range(5)}


# ---------------------------------------------------------------------------
# NN-Descent kNN-graph construction (round 6)
# ---------------------------------------------------------------------------


def _vec_df(spark, vecs):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": list(range(len(vecs))), "embedding": [list(map(float, v)) for v in vecs]}
        )
    )


def _exact_top1(vecs):
    import numpy as np

    m = np.asarray(vecs, dtype=np.float64)
    q = np.round(m * 1e6).astype(np.int64)
    dots = q @ q.T
    best = {}
    for i in range(len(vecs)):
        order = sorted(
            (j for j in range(len(vecs)) if j != i),
            key=lambda j: (-dots[i, j], j),
        )
        best[i] = order[0]
    return best


def test_nn_descent_exact_when_k_covers_corpus(spark):
    """With n-1 <= k the ring init already contains every other node,
    so one round must return the exact kNN graph."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import nn_descent_knn_graph

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(6, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out = nn_descent_knn_graph(
        _vec_df(spark, vecs), k=8, iters=1
    ).collect()
    # k_eff = n-1 = 5 neighbors per node, exact
    assert len(out) == 6 * 5
    top1 = {r["id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert top1 == _exact_top1(vecs)
    # determinism: a second run is row-identical
    again = nn_descent_knn_graph(
        _vec_df(spark, vecs), k=8, iters=1
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_nn_descent_converges_on_planted_clusters(spark):
    """20 tight clusters x 8 points: with k = cluster size, after 3
    rounds the top-1 neighbor of (almost) every point is
    intra-cluster even though the ring init is cluster-oblivious —
    the neighbor-of-a-neighbor walk found the cluster (measured
    0.994; k=4 plateaus near 0.83 on this fixture, the documented
    k-vs-exploration trade). Also: per-node best similarity never
    decreases with more rounds (top-k keeps the best seen)."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import nn_descent_knn_graph

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(20, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.05 * rng.normal(size=(8, 32))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    # shuffle so id order (the ring init) does not follow clusters
    perm = rng.permutation(len(vecs))
    shuffled = [vecs[i] for i in perm]
    cluster_of = {i: perm[i] // 8 for i in range(len(perm))}

    df = _vec_df(spark, shuffled)
    g3 = nn_descent_knn_graph(df, k=8, iters=3).collect()
    top1 = {r["id"]: r["neighbor_id"] for r in g3 if r["rank"] == 1}
    intra = sum(
        1 for i, j in top1.items() if cluster_of[i] == cluster_of[j]
    )
    assert intra / len(top1) >= 0.9

    g1 = nn_descent_knn_graph(df, k=8, iters=1).collect()
    best1 = {r["id"]: r["sim_ppm"] for r in g1 if r["rank"] == 1}
    best3 = {r["id"]: r["sim_ppm"] for r in g3 if r["rank"] == 1}
    assert all(best3[i] >= best1[i] for i in best1)


def test_nn_descent_refresh_equals_cold_on_clusters(spark):
    """Warm-start refresh over a stored graph + appended rows must
    reproduce the cold rebuild exactly once both converge (unique kNN
    graph under the integer total order) — the incremental-add
    contract. Stale edges to removed rows are dropped silently."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        nn_descent_knn_graph,
        nn_descent_refresh,
    )

    rng = np.random.default_rng(23)
    centers = rng.normal(size=(10, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.05 * rng.normal(size=(10, 32))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    old_df = _vec_df(spark, vecs[:80])
    union_df = _vec_df(spark, vecs)  # 20 appended rows

    old = nn_descent_knn_graph(old_df, k=8, iters=3)
    cold = nn_descent_knn_graph(union_df, k=8, iters=3).collect()
    ref = nn_descent_refresh(union_df, old, k=8, iters=2).collect()
    assert sorted(map(tuple, ref)) == sorted(map(tuple, cold))

    # removal: refresh over a SHRUNK corpus drops stale edges via the
    # scoring join — output covers exactly the surviving nodes
    shrunk_df = _vec_df(spark, vecs[:60])
    ref_small = nn_descent_refresh(shrunk_df, old, k=8, iters=2)
    ids = {r["id"] for r in ref_small.select("id").distinct().collect()}
    assert ids == set(range(60))
    nbrs = {
        r["neighbor_id"] for r in ref_small.select("neighbor_id").collect()
    }
    assert nbrs <= set(range(60))


def test_load_or_build_knn_graph_refreshes_on_count_change(
    spark, tmp_path
):
    """Same knobs + changed corpus count -> the artifact is REFRESHED
    (warm-start) rather than cold-rebuilt, and the stored result
    matches a cold build of the union."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import nn_descent_knn_graph
    from job_post_similarity_spark.operators.index_store import (
        load_or_build_knn_graph,
    )

    rng = np.random.default_rng(31)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.05 * rng.normal(size=(10, 16))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    path = str(tmp_path / "graph_art")
    g0, rebuilt0 = load_or_build_knn_graph(
        spark, _vec_df(spark, vecs[:64]), path, k=8, iters=3
    )
    assert rebuilt0
    union_df = _vec_df(spark, vecs)
    g1, rebuilt1 = load_or_build_knn_graph(
        spark, union_df, path, k=8, iters=3
    )
    assert rebuilt1  # refreshed -> artifact rewritten
    cold = nn_descent_knn_graph(union_df, k=8, iters=3).collect()
    assert sorted(map(tuple, g1.collect())) == sorted(map(tuple, cold))
    # third call: same count + knobs -> served from the artifact
    g2, rebuilt2 = load_or_build_knn_graph(
        spark, union_df, path, k=8, iters=3
    )
    assert not rebuilt2

    # wholesale replacement (disjoint ids, same knobs, different
    # count) must COLD-build, not warm-refresh: every stored edge
    # would die in the scoring join and a 2-round ring-init graph
    # would silently undercut the iters=3 contract
    import json as _json
    import os as _os

    import pandas as _pd

    repl_mat = __import__("numpy").asarray(vecs[:70]) * -1.0
    replaced = spark.createDataFrame(
        _pd.DataFrame(
            {
                "vec_id": range(10_000, 10_000 + len(repl_mat)),
                "embedding": list(repl_mat),
            }
        )
    )
    g3, rebuilt3 = load_or_build_knn_graph(
        spark, replaced, path, k=8, iters=3
    )
    assert rebuilt3
    with open(_os.path.join(path, "meta.json")) as fh:
        meta = _json.load(fh)
    assert meta["refreshed"] is False  # cold path taken
    cold_repl = nn_descent_knn_graph(replaced, k=8, iters=3).collect()
    assert sorted(map(tuple, g3.collect())) == sorted(
        map(tuple, cold_repl)
    )


def test_graph_insert_matches_exact_union_graph(spark):
    """HNSW-style insert: navigating the exact old graph + reverse
    fan-in repair reproduces the EXACT kNN graph of the union —
    checked against a numpy brute force with the same integer
    micro-dot arithmetic. Untouched nodes pass through byte-identical."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        graph_insert,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(41)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.05 * rng.normal(size=(12, 16))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    # the operator's documented regime: every cluster keeps OLD
    # members (an all-new cluster is unreachable by navigation) and
    # gets a beam entry point — 10 old + 2 new per cluster
    old_idx = [i for i in range(96) if i % 12 < 10]
    new_idx = [i for i in range(96) if i % 12 >= 10]
    old_ids = old_idx
    new_ids = [1000 + i for i in new_idx]
    import pandas as pd

    old_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": old_ids,
                "embedding": [vecs[i] for i in old_idx],
            }
        )
    )
    new_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": new_ids,
                "embedding": [vecs[i] for i in new_idx],
            }
        )
    )
    old = nn_descent_knn_graph(old_df, k=6, iters=3)
    got = graph_insert(
        old_df, old, new_df, k=6, beam=24, hops=4,
        entries=list(range(0, 96, 12)),  # one old id per cluster
    ).collect()

    # numpy exact with the operator's arithmetic (micro-quantized
    # integer dots, (dot desc, id asc) order)
    ids = old_ids + new_ids
    all_vecs = [vecs[i] for i in old_idx] + [vecs[i] for i in new_idx]
    mat = np.round(np.asarray(all_vecs) * 1e6).astype(np.int64)
    want = {}
    for i, vid in enumerate(ids):
        dots = sorted(
            (
                (-(mat[i] @ mat[j]), ids[j])
                for j in range(len(ids))
                if j != i
            ),
        )[:6]
        want[vid] = [
            (nid, r + 1, (d_neg * -1 + 10**15) // 10**6 - 10**9)
            for r, (d_neg, nid) in enumerate(dots)
        ]
    got_by = {}
    for r in got:
        got_by.setdefault(r["id"], []).append(
            (r["neighbor_id"], r["rank"], r["sim_ppm"])
        )
    for vid, rows in got_by.items():
        rows.sort(key=lambda t: t[1])
        assert rows == want[vid], f"node {vid}"
    assert set(got_by) == set(ids)


def test_nn_descent_edge_cases(spark):
    import pandas as pd
    import pytest as _pytest

    from job_post_similarity_spark.operators.ann import nn_descent_knn_graph

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert nn_descent_knn_graph(empty, k=4, iters=1).count() == 0
    single = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[1.0, 0.0]]})
    )
    assert nn_descent_knn_graph(single, k=4, iters=1).count() == 0
    with _pytest.raises(ValueError):
        nn_descent_knn_graph(single, k=0, iters=1)
    with _pytest.raises(ValueError):
        nn_descent_knn_graph(single, k=4, iters=0)


def test_graph_beam_search_exact_when_beam_covers_corpus(spark):
    """With beam >= n the entry set is the whole corpus, so the search
    must return the exact top-k regardless of graph quality."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        graph_beam_search,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(10, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    g = nn_descent_knn_graph(df, k=3, iters=1)
    out = graph_beam_search(df, g, [0, 4], k=1, beam=10, hops=1).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out}
    exact = _exact_top1(vecs)
    assert top1 == {0: exact[0], 4: exact[4]}


def test_graph_beam_search_navigates_to_cluster(spark):
    """6 planted clusters x 10 points: entry points live in one id
    range, yet 2 hops of beam search over the NN-Descent graph reach
    each query's own cluster — top-1 intra-cluster for nearly every
    query; also deterministic across runs."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        graph_beam_search,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(6, 24))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.05 * rng.normal(size=(10, 24))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    perm = rng.permutation(len(vecs))
    shuffled = [vecs[i] for i in perm]
    cluster_of = {i: perm[i] // 10 for i in range(len(perm))}
    df = _vec_df(spark, shuffled)
    g = nn_descent_knn_graph(df, k=8, iters=2)
    qids = [7, 19, 33, 48, 55]
    out = graph_beam_search(df, g, qids, k=3, beam=8, hops=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    hits = sum(1 for q, n in top1.items() if cluster_of[q] == cluster_of[n])
    assert hits >= 4
    again = graph_beam_search(df, g, qids, k=3, beam=8, hops=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_auto_entries_rescue_stranded_clusters(spark):
    """The failure mode engine-side entry provisioning exists for
    (VERDICT r8 item 2): on a clustered corpus whose SMALLEST ids all
    live in one cluster, the low-level beam-smallest default strands
    every other cluster (a converged kNN graph has no inter-cluster
    edges once clusters exceed k members), while the serving facade's
    default_graph_entries rank stride reaches them all — the caller
    never passes entries."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        graph_beam_search,
        graph_topk_search,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 24))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:  # ids 0-9 cluster 0, 10-19 cluster 1, ...
        pts = c + 0.05 * rng.normal(size=(10, 24))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    df = _vec_df(spark, vecs)
    g = nn_descent_knn_graph(df, k=8, iters=3)
    qids = [15, 27, 39, 44, 58]  # one query in each non-entry cluster

    # low-level default: beam smallest ids = all of cluster 0 — the
    # documented stranding (each query's served top-1 stays wrong)
    stranded = graph_beam_search(df, g, qids, k=1, beam=9, hops=4)
    s_hits = sum(
        1
        for r in stranded.collect()
        if r["rank"] == 1 and r["neighbor_id"] // 10 == r["query_id"] // 10
    )
    assert s_hits == 0, "beam-smallest entries unexpectedly navigated"

    # facade with NO entries: engine provisions a rank stride — every
    # cluster reachable, exact top-1 intra-cluster for every query
    queries = df.filter(F.col("vec_id").isin(qids))
    served = graph_topk_search(queries, df, k=1, graph=g)
    a_hits = sum(
        1
        for r in served.collect()
        if r["rank"] == 1 and r["neighbor_id"] // 10 == r["query_id"] // 10
    )
    assert a_hits == len(qids)


def test_ivf_entries_cover_skewed_clusters_where_stride_cannot(spark):
    """Geometry-aware entry provisioning (ann.ivf_graph_entries):
    when id order correlates with cluster membership and sizes are
    skewed (one 900-row cluster + five 20-row clusters), the rank
    stride owns no slot in some small clusters — beam search strands
    their queries — while kmeans++ coarse centroids cover every
    cluster. Deterministic across calls (seeded ++ init, stable
    tie-breaks)."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        default_graph_entries,
        graph_beam_search,
        ivf_graph_entries,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(23)
    centers = rng.normal(size=(6, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    sizes = [900, 20, 20, 20, 20, 20]
    vecs, cluster_of = [], []
    for ci, (c, sz) in enumerate(zip(centers, sizes)):
        pts = c + 0.05 * rng.normal(size=(sz, 16))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
        cluster_of += [ci] * sz
    df = _vec_df(spark, vecs)
    g = nn_descent_knn_graph(df, k=8, iters=3).localCheckpoint()
    stride = default_graph_entries(df)
    ivf = ivf_graph_entries(df, corpus_rows=1000)
    assert {cluster_of[e] for e in ivf} == set(range(6))
    assert {cluster_of[e] for e in stride} != set(range(6)), (
        "fixture no longer strands the stride — strengthen the skew"
    )
    qids = [905, 925, 945, 965, 985]  # one per small cluster
    hits = {}
    for name, ents in [("stride", stride), ("ivf", ivf)]:
        out = graph_beam_search(
            df, g, qids, k=1, beam=12, hops=4, entries=ents,
            corpus_rows=1000,
        ).collect()
        hits[name] = sum(
            1
            for r in out
            if r["rank"] == 1
            and cluster_of[r["neighbor_id"]] == cluster_of[r["query_id"]]
        )
    assert hits["ivf"] == len(qids)
    assert hits["stride"] < len(qids)
    assert ivf == ivf_graph_entries(df, corpus_rows=1000)


def test_graph_beam_search_small_and_large_paths_agree(spark):
    """The size-dispatched serving paths are one algorithm in two
    physical shapes: forcing the shuffle path (corpus_rows lie above
    the 100k dispatch) must return row-for-row what the broadcast/
    explode path returns — candidate sets, integer scores, ranks."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        graph_beam_search,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(60, 12))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    g = nn_descent_knn_graph(df, k=5, iters=2).localCheckpoint()
    qids = [1, 13, 27, 41, 59]
    small = graph_beam_search(
        df, g, qids, k=3, beam=6, hops=3, corpus_rows=60
    )
    large = graph_beam_search(
        df, g, qids, k=3, beam=6, hops=3, corpus_rows=200_000
    )
    assert sorted(map(tuple, small.collect())) == sorted(
        map(tuple, large.collect())
    )


def test_graph_beam_search_duplicate_entries_deduped(spark):
    """Repeated ids in ``entries`` must behave like the old corpus
    isin-filter: one hop-0 beam slot each, and with hops=0 no
    duplicate neighbor rows in the output."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        graph_beam_search,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(12, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    g = nn_descent_knn_graph(df, k=3, iters=1)
    out = graph_beam_search(
        df, g, [0], k=1, beam=2, hops=0, entries=[5, 5, 5]
    ).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(5, 1)]
    # and a duplicated entry must not shrink the effective beam
    dup = graph_beam_search(
        df, g, [0], k=2, beam=3, hops=0, entries=[5, 5, 7, 9]
    ).collect()
    uniq = graph_beam_search(
        df, g, [0], k=2, beam=3, hops=0, entries=[5, 7, 9]
    ).collect()
    assert sorted(map(tuple, dup)) == sorted(map(tuple, uniq))


def test_nn_descent_refresh_after_removal_matches_cold(spark):
    """Removal regression guard for the warm path: when the corpus
    DROPPED rows since the stored build, nodes that lost a stored
    edge re-enter flagged NEW (their 'already explored' argument is
    void — a pair that previously lost to the removed edge can win
    now; ann.py's removal-soundness block). End property pinned:
    refresh over the survivors equals the converged cold build over
    the survivors on this fixture. (Ring-init NEW edges make the
    flag distinction empirically small at these sizes — the guard is
    against ANY warm-path regression after removals, the case the
    equality gate's append-only fixture never exercises.)"""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        nn_descent_knn_graph,
        nn_descent_refresh,
    )

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(6, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.08 * rng.normal(size=(20, 16))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    df = _vec_df(spark, vecs)
    stored = nn_descent_knn_graph(df, k=8, iters=4)
    # drop half of cluster 0 (ids 0-9): every surviving cluster-0
    # node loses stored edges, and its new exact top-k must pull in
    # previously-displaced neighbors
    survivors = df.filter(F.col("vec_id") >= 10)
    refreshed = nn_descent_refresh(survivors, stored, k=8, iters=3)
    cold = nn_descent_knn_graph(survivors, k=8, iters=4)
    assert sorted(map(tuple, refreshed.collect())) == sorted(
        map(tuple, cold.collect())
    )


def test_graph_beam_search_small_path_plan_shape(spark):
    """The warm-serve latency contract (VERDICT r8 item 4): on the
    small-corpus path every hop is exchange-free — the (qid, node)
    dedup aggregate and the per-qid windows ride the hop-0 window's
    hash(qid) partitioning, scoring and expansion join one shared
    broadcast relation, and the final sort is single-partition. Pinned
    by plan text: NO shuffle keyed on (qid, node) (the dedup never
    re-partitions), NO rangepartitioning (no global-sort sampling
    pass), and exactly ONE qid-keyed shuffle (the hop-0 window)."""
    import re

    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        graph_beam_search,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(2)
    vecs = rng.normal(size=(40, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    g = nn_descent_knn_graph(df, k=4, iters=1).localCheckpoint()
    out = graph_beam_search(
        df, g, [3, 7], k=2, beam=5, hops=3, corpus_rows=40
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert not re.search(r"Exchange rangepartitioning", plan), (
        "small path must not range-partition (coalesce(1) sort)"
    )
    assert not any("qid" in s and "node" in s for s in shuffles), (
        f"dedup re-partitioned on (qid, node): {shuffles}"
    )
    qid_shuffles = [s for s in shuffles if "qid" in s]
    assert len(qid_shuffles) == 1, (
        f"expected exactly the hop-0 window shuffle, got {qid_shuffles}"
    )
    # the remaining node-keyed shuffles are plan-text replicas of the
    # ONE adjacency groupBy inside the shared broadcast relation; AQE
    # reuses the exchange at runtime
    assert out.count() == 4


def test_graph_beam_search_validation(spark):
    import pytest as _pytest

    from job_post_similarity_spark.operators.ann import graph_beam_search

    df = _vec_df(spark, [[1.0, 0.0]])
    g = df.sparkSession.createDataFrame(
        [], "id long, neighbor_id long, rank int, sim_ppm long"
    )
    with _pytest.raises(ValueError):
        graph_beam_search(df, g, [0], k=0)
    with _pytest.raises(ValueError):
        graph_beam_search(df, g, [0], beam=0)
    with _pytest.raises(ValueError):
        graph_beam_search(df, g, [0], hops=-1)


def test_hnsw_levels_match_md5_replay_and_auto_depth(spark):
    """Deterministic geometric levels: level(id) = largest l with
    md5-int('hnswlvl:'||id) % m^l == 0 — equal to a pure-Python md5
    replay, with the geometric law's coarse shape (level-0 majority,
    shrinking tail). hnsw_max_level keeps the expected top layer
    under entry_budget at any n."""
    import hashlib

    from job_post_similarity_spark.operators.ann import (
        hnsw_levels,
        hnsw_max_level,
    )

    df = spark.range(0, 300).selectExpr("id AS vec_id")
    got = {
        r["vec_id"]: r["level"]
        for r in hnsw_levels(df, m=4, max_level=4).collect()
    }

    def ref(i):
        h = int(hashlib.md5(f"hnswlvl:{i}".encode()).hexdigest()[:14], 16)
        lv = 0
        for l in range(1, 5):
            if h % (4**l) == 0:
                lv = l
        return lv

    assert got == {i: ref(i) for i in range(300)}
    n0 = sum(1 for v in got.values() if v == 0)
    n1 = sum(1 for v in got.values() if v >= 1)
    assert n0 > n1 > 0  # geometric: each layer strictly thinner

    assert hnsw_max_level(60, 4, 64) == 1
    assert hnsw_max_level(10**9, 4, 64) == 12
    assert hnsw_max_level(0, 4, 64) == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hnsw_levels(df, m=1).collect()


def test_hnsw_descent_navigates_stranded_clusters(spark):
    """The layered hierarchy is a THIRD entry-provisioning answer to
    the stranded-cluster failure (after the rank stride and kmeans++
    centroids): on the 6-cluster fixture where beam-smallest entries
    strand every non-entry cluster, hnsw_topk_search with NO entries
    and NO provisioning walks top layer -> layer 0 and finds the
    intra-cluster top-1 for every query. The hierarchy itself must be
    layered (a real upper layer exists) and its layer-0 graph is the
    NN-Descent graph unchanged."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        hnsw_hierarchy_build,
        hnsw_topk_search,
        nn_descent_knn_graph,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 24))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:  # ids 0-9 cluster 0, 10-19 cluster 1, ...
        pts = c + 0.05 * rng.normal(size=(10, 24))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    df = _vec_df(spark, vecs)
    # entry_budget=8 forces REAL upper-layer graphs on a 60-row
    # corpus (the default 64 would make level-1 membership itself the
    # entry set and skip straight to the flat search)
    meta = {}
    hier = hnsw_hierarchy_build(df, k=8, iters=3, entry_budget=8, meta=meta)
    layers = sorted(
        r["layer"] for r in hier.select("layer").distinct().collect()
    )
    assert layers[0] == 0 and len(layers) >= 2, layers
    assert meta["top_layer"] == layers[-1]

    base = nn_descent_knn_graph(df, k=8, iters=3)
    l0 = hier.filter(F.col("layer") == 0).drop("layer")
    assert l0.exceptAll(base).count() == 0
    assert base.exceptAll(l0).count() == 0

    qids = [15, 27, 39, 44, 58]
    queries = df.filter(F.col("vec_id").isin(qids))
    # start_budget=8 too, and max_walks pins the WALKED descent (the
    # r10 adaptive default skips walks whenever a fitted layer was
    # seeded exhaustively — this test exists to prove the walks
    # themselves navigate, so force them)
    served = hnsw_topk_search(
        queries, df, k=1, hierarchy=hier, entry_budget=8,
        top_layer=meta["top_layer"], layer_sizes=meta["layer_sizes"],
        start_budget=8, max_walks=99,
    )
    hits = sum(
        1
        for r in served.collect()
        if r["rank"] == 1 and r["neighbor_id"] // 10 == r["query_id"] // 10
    )
    assert hits == len(qids)


def test_hnsw_nav_members_match_md5_predicate(spark):
    """The materialized navigation membership (one scan, explode from
    the level expression) equals the md5 % m^l predicate the descent
    replays, per layer 1..top+1, with exactly one row per member —
    the equivalence that makes nav_members a pure serving-state
    substitution."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        _hnsw_hash,
        hnsw_nav_members,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(200, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    for m in (2, 4):
        top = 2
        nav = hnsw_nav_members(df, m=m, top_layer=top)
        rows = nav.collect()
        assert len(rows) == len({(r["layer"], r["vec_id"]) for r in rows})
        by_layer = {}
        for r in rows:
            by_layer.setdefault(r["layer"], set()).add(r["vec_id"])
        for l in range(1, top + 2):
            want = {
                r["vec_id"]
                for r in df.filter(
                    _hnsw_hash("vec_id") % (m**l) == 0
                ).collect()
            }
            assert by_layer.get(l, set()) == want, (m, l)
        # vectors ride along unchanged
        sample = nav.filter(F.col("layer") == 1).limit(1).collect()
        if sample:
            vid = sample[0]["vec_id"]
            assert sample[0]["embedding"] == list(map(float, vecs[vid]))


def test_hnsw_descent_with_nav_state_equals_without(spark):
    """Serving through persisted nav state is a pure substitution:
    identical output rows with and without nav_members, on both the
    walked-descent path (a built layer fits start_budget) and the
    entry-membership path (none fits — seed from level top+1 + the
    smallest-id backstop)."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        hnsw_hierarchy_build,
        hnsw_nav_members,
        hnsw_topk_search,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 24))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.05 * rng.normal(size=(10, 24))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    df = _vec_df(spark, vecs)
    meta = {}
    hier = hnsw_hierarchy_build(df, k=8, iters=3, entry_budget=8, meta=meta)
    nav = hnsw_nav_members(df, m=2, top_layer=meta["top_layer"])
    queries = df.filter(F.col("vec_id").isin([15, 27, 39, 44, 58]))
    # sb=8 → fitted exhaustive seed (0 walks by the adaptive
    # default); sb=1 → entry-membership seed (full walked descent);
    # mw=99 at sb=8 → fitted seed + forced walks. All three paths
    # must be pure substitutions under nav state.
    for sb, mw in ((8, None), (1, None), (8, 99)):
        kw = dict(
            k=2, hierarchy=hier, entry_budget=8,
            top_layer=meta["top_layer"],
            layer_sizes=meta["layer_sizes"], start_budget=sb,
            max_walks=mw,
        )
        without = sorted(
            map(tuple, hnsw_topk_search(queries, df, **kw).collect())
        )
        with_nav = sorted(
            map(
                tuple,
                hnsw_topk_search(
                    queries, df, nav_members=nav, **kw
                ).collect(),
            )
        )
        assert with_nav == without, (sb, mw)
        assert len(with_nav) == 10  # 5 queries × k=2


def test_hnsw_hierarchy_insert_equals_rebuild(spark):
    """Incremental hierarchy maintenance (VERDICT r9 item 4): insert
    12 twins into a built 6-cluster hierarchy — every upper layer the
    twins' md5 levels touch is repaired (exact-tier layers rebuilt
    over union members, skip edges included), untouched layers pass
    through, and the layer SET follows the builder's stopping rule on
    the union. Where layer 0 is exact and every upper layer is
    exact-tier, the result equals hnsw_hierarchy_build over the union
    seeded with the exact union layer-0 graph, byte for byte."""
    import numpy as np

    from pyspark.sql.window import Window

    from job_post_similarity_spark.operators.ann import (
        _SIM_PPM_SQL,
        _int_dot,
        _micro_quant,
        hnsw_hierarchy_build,
        hnsw_hierarchy_insert,
    )

    def exact_topk(frame, k=8):
        # plain exact top-k layer-0 graph (NO rank-2^j skip edges —
        # layer 0 is an NN-Descent-shaped graph, only UPPER exact
        # layers carry skips): the r9 insert gate's exact reference
        q = frame.select(
            F.col("vec_id").alias("id"),
            _micro_quant("embedding").alias("q"),
        )
        w = Window.partitionBy("src").orderBy(
            F.desc("dot"), F.asc("dst")
        )
        return (
            q.alias("a")
            .join(q.alias("b"), F.col("a.id") != F.col("b.id"))
            .select(
                F.col("a.id").alias("src"),
                F.col("b.id").alias("dst"),
                _int_dot("a.q", "b.q").alias("dot"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(
                F.col("src").alias("id"),
                F.col("dst").alias("neighbor_id"),
                F.col("rn").cast("int").alias("rank"),
                F.expr(_SIM_PPM_SQL).cast("long").alias("sim_ppm"),
            )
        )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 24))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.05 * rng.normal(size=(10, 24))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    df = _vec_df(spark, vecs)
    # exact layer 0 so graph_insert's exact-union property applies
    l0 = exact_topk(df)
    meta = {}
    hier = hnsw_hierarchy_build(
        df, k=8, iters=3, entry_budget=8, base_graph=l0, meta=meta
    )
    twins = df.filter(F.col("vec_id") < 12).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    union = df.unionByName(twins)

    ins_meta = {}
    ins = hnsw_hierarchy_insert(
        df, hier, twins, k=8, entry_budget=8,
        corpus_rows=60, meta=ins_meta,
    )

    want_meta = {}
    want = hnsw_hierarchy_build(
        union, k=8, iters=3, entry_budget=8,
        base_graph=exact_topk(union),
        meta=want_meta,
    )
    cols = ["layer", "id", "neighbor_id", "rank", "sim_ppm"]
    diff = (
        ins.select(cols).exceptAll(want.select(cols))
        .unionAll(want.select(cols).exceptAll(ins.select(cols)))
        .count()
    )
    assert diff == 0
    assert ins_meta["top_layer"] == want_meta["top_layer"]
    assert ins_meta["layer_sizes"] == want_meta["layer_sizes"]
    assert ins_meta["built"] == "insert"

    # WARM-STATE path (r11): the retired membership table + stored
    # sizes replace the per-layer union md5 scans — the repaired
    # hierarchy and its meta must be byte-identical to the cold path
    from job_post_similarity_spark.operators.ann import (
        hnsw_nav_members,
    )

    nav = hnsw_nav_members(df, m=2, top_layer=meta["top_layer"])
    warm_meta = {}
    warm = hnsw_hierarchy_insert(
        df, hier, twins, k=8, entry_budget=8,
        corpus_rows=60, meta=warm_meta,
        nav_members=nav,
        old_layer_sizes=meta["layer_sizes"],
        old_top_layer=meta["top_layer"],
    )
    diff_w = (
        warm.select(cols).exceptAll(want.select(cols))
        .unionAll(want.select(cols).exceptAll(warm.select(cols)))
        .count()
    )
    assert diff_w == 0
    assert warm_meta["layer_sizes"] == want_meta["layer_sizes"]
    assert warm_meta["top_layer"] == want_meta["top_layer"]


def test_hierarchy_artifact_roundtrip_with_nav_and_knobs(spark, tmp_path):
    """save_hnsw_hierarchy persists the nav membership beside the
    layer-partitioned edges and records the build knobs; load refuses
    a knob mismatch OR a pre-knob artifact when the caller states its
    expectations (ADVICE r9: a hierarchy built with a different m
    must not be served through the wrong membership predicate)."""
    import numpy as np
    import pytest

    from job_post_similarity_spark.operators import index_store
    from job_post_similarity_spark.operators.ann import (
        hnsw_hierarchy_build,
        hnsw_nav_members,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    meta = {}
    hier = hnsw_hierarchy_build(df, k=4, iters=2, entry_budget=8, meta=meta)
    nav = hnsw_nav_members(df, m=2, top_layer=meta["top_layer"])
    path = str(tmp_path / "hier")
    knobs = {"m": 2, "k": 4, "entry_budget": 8}
    index_store.save_hnsw_hierarchy(
        path, hier, 60, meta["top_layer"], meta["layer_sizes"],
        params=knobs, nav_members=nav,
    )

    back, bmeta = index_store.load_hnsw_hierarchy(spark, path, expect=knobs)
    assert bmeta["n_rows"] == 60 and bmeta["m"] == 2
    assert sorted(map(tuple, back.select(hier.columns).collect())) == sorted(
        map(tuple, hier.collect())
    )
    nav_back = index_store.load_hnsw_nav(spark, path)
    assert nav_back is not None
    assert sorted(
        map(tuple, nav_back.select(nav.columns).collect())
    ) == sorted(map(tuple, nav.collect()))

    with pytest.raises(index_store.IndexLoadError, match="knob m="):
        index_store.load_hnsw_hierarchy(
            spark, path, expect={**knobs, "m": 4}
        )
    # pre-knob vintage (meta without the knob) also refuses
    with pytest.raises(index_store.IndexLoadError, match="knob"):
        index_store.load_hnsw_hierarchy(
            spark, path, expect={"iters": 3}
        )

    # a save without nav drops a stale nav table
    index_store.save_hnsw_hierarchy(
        path, hier, 60, meta["top_layer"], meta["layer_sizes"],
        params=knobs,
    )
    assert index_store.load_hnsw_nav(spark, path) is None


def test_hnsw_descent_tiny_corpus_falls_back_flat(spark):
    """A corpus too small to populate layer 1 serves through the flat
    default-entry path (top == 0): output matches the flat facade's
    contract and finds the exact top-1 on 6 rows."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import hnsw_topk_search

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(6, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    queries = df.filter(F.col("vec_id") == 0)
    got = hnsw_topk_search(queries, df, k=1, hops=3).collect()
    sims = vecs @ vecs[0]
    sims[0] = -2
    assert len(got) == 1
    assert got[0]["neighbor_id"] == int(np.argmax(sims))


def test_stream_topk_search_multibatch_equals_batch(spark, tmp_path):
    """Streaming ANN serving == batch serving over the union of
    micro-batches: 3 query files streamed one per trigger against a
    static graph accumulate exactly the batch operator's rows
    (per-query independence), with >1 real micro-batch and the
    read-back dedup making a replayed batch harmless."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        graph_beam_search,
        nn_descent_knn_graph,
    )
    from job_post_similarity_spark.streaming import stream_topk_search

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(80, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    g = nn_descent_knn_graph(df, k=4, iters=2)
    qids = [3, 11, 27, 44, 61, 78]
    qdf = df.filter(F.col("vec_id").isin(qids))

    qdir = str(tmp_path / "queries")
    qdf.repartition(3).write.parquet(qdir)
    stream = (
        spark.readStream.schema(qdf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    got = stream_topk_search(
        spark,
        stream,
        df,
        str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        graph=g,
        k=3,
        beam=8,
        hops=2,
    ).collect()

    want = graph_beam_search(
        df, g, qids, k=3, beam=8, hops=2
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert {r["query_id"] for r in got} == set(qids)
    # the stream really was micro-batched: parquet sink holds >1
    # batch's append (file count exceeds one write's output) — the
    # equality above is therefore a cross-batch union, not one shot
    import os

    parts = [
        f
        for f in os.listdir(str(tmp_path / "out"))
        if f.endswith(".parquet")
    ]
    assert len(parts) >= 2


def test_stream_topk_search_empty_stream_returns_empty(spark, tmp_path):
    """A query stream that delivers ZERO rows never writes the sink:
    the facade must return an empty DataFrame with the serving schema
    (query_id, neighbor_id, rank, sim_ppm) instead of letting
    spark.read.parquet raise on the missing directory, and must
    release its per-call graph/corpus persists either way."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        nn_descent_knn_graph,
    )
    from job_post_similarity_spark.streaming import stream_topk_search

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    g = nn_descent_knn_graph(df, k=4, iters=2)

    qdir = str(tmp_path / "queries")
    df.limit(0).write.parquet(qdir)  # schema-only, zero rows
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    got = stream_topk_search(
        spark,
        stream,
        df,
        str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        graph=g,
        k=3,
    )
    assert got.collect() == []
    assert [f.name for f in got.schema.fields] == [
        "query_id", "neighbor_id", "rank", "sim_ppm",
    ]
    # the per-call persists were released (caller never observes
    # them: the non-empty path serves from the parquet sink)
    assert not g.is_cached
    assert not df.is_cached


def test_filtered_topk_dispatch_branches(spark):
    """Selectivity dispatch of the filtered-ANN facade: a selective
    predicate serves EXACT over the filtered subset (equal to the
    brute-force answer by construction); an unselective one serves
    the INTACT graph with oversampled k then post-filters — ranks
    re-numbered 1..k, every neighbor satisfies the predicate, and on
    this deterministic fixture the survivors equal the exact answer
    over the matching rows."""
    import numpy as np

    from job_post_similarity_spark.operators import knn
    from job_post_similarity_spark.operators.ann import (
        filtered_topk_search,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(100, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = _vec_df(spark, vecs)
    queries = df.filter(F.col("vec_id") < 6)

    # selective: 8/100 rows match -> exact branch
    sel = filtered_topk_search(
        queries, df, F.col("vec_id") % 13 == 0, k=3,
        selectivity_threshold=0.1,
    )
    want_sel = knn.knn_join(
        queries, "vec_id", "embedding", k=3,
        include_self=False, right=df.filter(F.col("vec_id") % 13 == 0),
    )
    assert sorted(map(tuple, sel.collect())) == sorted(
        map(tuple, want_sel.collect())
    )

    # unselective: half the corpus matches -> graph branch
    got = filtered_topk_search(
        queries, df, F.col("vec_id") % 2 == 0, k=3,
        selectivity_threshold=0.1, oversample=8,
    ).collect()
    for r in got:
        assert r["neighbor_id"] % 2 == 0
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn.knn_join(
            queries, "vec_id", "embedding", k=3,
            include_self=False,
            right=df.filter(F.col("vec_id") % 2 == 0),
        ).collect()
    }
    got_map = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in got
    }
    assert got_map == exact

    # at-scale composition (VERDICT r9 item 6): corpora >=
    # hierarchy_min_rows serve the unselective branch through the
    # LAYERED hierarchy, same output contract — on this fixture the
    # survivors still equal the exact filtered answer
    got_h = filtered_topk_search(
        queries, df, F.col("vec_id") % 2 == 0, k=3,
        selectivity_threshold=0.1, oversample=8,
        hierarchy_min_rows=1,
    ).collect()
    got_h_map = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in got_h
    }
    assert got_h_map == exact


def test_opq_rotation_orthonormal_and_beats_pq_on_anisotropic(spark):
    """OPQ learns a real orthonormal rotation (RᵀR = I) that cuts
    PQ reconstruction error on data whose variance straddles the
    subspace grid (the regime OPQ exists for — Ge et al. 2013), and
    the alternation is seed-deterministic."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        _pq_reconstruct,
        opq_train,
        pq_train,
    )

    rng = np.random.default_rng(13)
    # anisotropic + cross-subspace correlated: stretch a random basis
    z = rng.normal(size=(400, 16))
    scales = np.array([6, 5, 4, 3, 2.5, 2, 1.5, 1.2] + [0.3] * 8)
    q, _ = np.linalg.qr(rng.normal(size=(16, 16)))
    mat = (z * scales) @ q.T
    df = _vec_df(spark, mat)

    R, obooks = opq_train(
        df, m=4, bits=3, opq_iters=8, seed=11, n_rows=400
    )
    assert np.allclose(R.T @ R, np.eye(16), atol=1e-9)

    pbooks = pq_train(df, m=4, bits=3, seed=11, n_rows=400)
    pq_err = ((mat - _pq_reconstruct(mat, pbooks)) ** 2).sum()
    rot = mat @ R.T
    opq_err = ((rot - _pq_reconstruct(rot, obooks)) ** 2).sum()
    assert opq_err < 0.8 * pq_err, (opq_err, pq_err)

    R2, obooks2 = opq_train(
        df, m=4, bits=3, opq_iters=8, seed=11, n_rows=400
    )
    assert np.array_equal(R, R2) and np.array_equal(obooks, obooks2)


def test_opq_search_planted_twin_and_encode_parity(spark):
    """End-to-end OPQ serving: a bit-identical planted twin rotates
    and encodes to the SAME code as its original, so ADC search must
    return it in the top-k (the PQ planted argument, rotation
    invariant); distributed opq_encode equals the local
    rotate-then-reconstruct assignment."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        opq_encode,
        opq_topk_search,
        opq_train,
    )

    rng = np.random.default_rng(23)
    base = rng.normal(size=(120, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    df = _vec_df(spark, base)
    R, books = opq_train(df, m=4, bits=4, opq_iters=4, seed=7, n_rows=120)

    twins = df.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    union = df.unionByName(twins)
    codes = opq_encode(union, R, books)
    by_id = {r["vec_id"]: tuple(r["pq_code"]) for r in codes.collect()}
    for i in range(10):
        assert by_id[i] == by_id[i + 1000]

    hits = opq_topk_search(
        df.filter(F.col("vec_id") < 10), codes, R, books,
        k=3, include_self=False,
    )
    found = {
        r["query_id"]
        for r in hits.collect()
        if r["neighbor_id"] == r["query_id"] + 1000
    }
    assert found == set(range(10))


def test_exact_knn_graph_local_equals_relational(spark):
    """The bounded driver-local numpy tier of ``_exact_knn_graph``
    must reproduce the relational window plan bit for bit — edges,
    ranks (incl. the 2^j skip edges) AND sim_ppm — on a fixture with
    float32 vectors, negative components, and EXACT-DUPLICATE vectors
    (self-dot ties, the pre-rank self-exclusion's hard case)."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        _exact_knn_graph,
        _exact_knn_graph_local,
    )

    rng = np.random.default_rng(7)
    n, d = 97, 24
    v = rng.normal(size=(n, d)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    # plant exact duplicates: rows 90..96 copy rows 0..6 (twin dot ==
    # self dot -> ties straddling the self row in the total order)
    v[90:97] = v[0:7]
    rows = [(int(i * 3 + 1), [float(x) for x in v[i]]) for i in range(n)]
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>"
    )
    rel = _exact_knn_graph(
        df, "vec_id", "embedding", k=4, member_rows=None
    )
    loc = _exact_knn_graph_local(df, "vec_id", "embedding", k=4)
    rel_rows = sorted(map(tuple, rel.collect()))
    loc_rows = sorted(map(tuple, loc.collect()))
    assert rel_rows == loc_rows
    assert len(loc_rows) > 0
    assert [f.name for f in loc.schema.fields] == [
        "id", "neighbor_id", "rank", "sim_ppm",
    ]
    # dispatch: a bounded member_rows routes to the local tier
    via_dispatch = _exact_knn_graph(
        df, "vec_id", "embedding", k=4, member_rows=n
    )
    assert sorted(map(tuple, via_dispatch.collect())) == loc_rows


def _hier_rows(df):
    return [
        tuple(r)
        for r in df.select("layer", "id", "neighbor_id", "rank", "sim_ppm")
        .orderBy("layer", "id", "rank")
        .collect()
    ]


@pytest.mark.parametrize(
    "n, vec_type, id_type, iters, exact_budget, entry_budget",
    [
        # layer 1 holds 61 > exact_budget members (the NN-Descent
        # branch), the layers above it are exact all-pairs
        (300, "float", "long", 1, 60, 16),
        (300, "float", "long", 3, 60, 16),
        (120, "double", "string", 2, 40, 8),
        # n in {0, 1, k, k+1} at k=4
        (0, "double", "long", 1, 2000, 512),
        (1, "double", "long", 1, 2000, 512),
        (4, "double", "string", 2, 2000, 1),
        (5, "float", "long", 3, 2000, 1),
    ],
)
def test_local_hierarchy_build_equals_relational(
    spark, n, vec_type, id_type, iters, exact_budget, entry_budget
):
    """The in-cap numpy build (``hnsw_local_build``: unpruned NN-Descent
    for layer 0 and above ``exact_budget``, exact all-pairs with skip
    edges below it) reproduces ``hnsw_hierarchy_build`` over
    ``nn_descent_knn_graph`` — whose NEW-flag pruning a cold build
    claims is byte-identical to the unpruned rounds — row for row in
    (layer, id, neighbor_id, rank) order, sim_ppm included, with the
    same meta. Planted exact twins make dot ties."""
    import numpy as np
    import pandas as pd

    from job_post_similarity_spark.operators.ann import (
        hnsw_hierarchy_build,
        hnsw_local_build,
        nn_descent_knn_graph,
    )

    k, d = (4, 12) if n <= 5 else (8, 16)
    rng = np.random.default_rng(n + iters)
    centers = rng.normal(size=(6, d))
    v = centers[np.arange(n) % 6] + 0.3 * rng.normal(size=(n, d))
    v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    if n > 10:
        v[n - 5 :] = v[:5]
    if vec_type == "float":
        v = v.astype(np.float32)
    ids = rng.permutation(n) * 7 + 3
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [str(i) if id_type == "string" else int(i) for i in ids],
                "embedding": [[float(x) for x in row] for row in v],
            }
        ),
        f"vec_id {id_type}, embedding array<{vec_type}>",
    )
    knobs = dict(k=k, iters=iters, exact_budget=exact_budget,
                 entry_budget=entry_budget)
    meta: dict = {}
    rel = hnsw_hierarchy_build(
        df, meta=meta,
        base_graph=nn_descent_knn_graph(df, k=k, iters=iters), **knobs,
    )
    local = hnsw_local_build(df, **knobs)
    want = _hier_rows(rel)
    assert _hier_rows(local.hierarchy()) == want
    assert local.meta == meta
    if n == 300:
        assert meta["layer_sizes"][1] == exact_budget + 1
        assert meta["top_layer"] >= 2


def test_hnsw_builders_on_dirty_input(spark):
    """The relational NN-Descent drops a null corpus id in both size
    regimes (the small regime's sorted() id probe used to raise
    TypeError on it); the numpy build refuses duplicate ids, null
    vectors, null elements and ragged widths with the snapshot's
    ValueErrors, naming the id, before it builds anything."""
    import pytest as _pytest

    from job_post_similarity_spark.operators.ann import (
        hnsw_local_build,
        nn_descent_knn_graph,
    )

    schema = "vec_id long, embedding array<double>"
    rows = [(i, [1.0, float(i), 0.5 * i]) for i in range(1, 9)]
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + [(None, [0.3, 0.2, 0.1])], schema)
    want = sorted(map(tuple, nn_descent_knn_graph(clean, k=3, iters=2).collect()))
    got = nn_descent_knn_graph(dirty, k=3, iters=2).collect()
    assert sorted(map(tuple, got)) == want
    assert _hier_rows(hnsw_local_build(dirty, k=3, iters=2).hierarchy()) == (
        _hier_rows(hnsw_local_build(clean, k=3, iters=2).hierarchy())
    )
    for bad, msg in [
        ((3, [0.1, 0.2, 0.3]), "id 3 is not unique"),
        ((20, None), "id 20: null vector"),
        ((21, [0.1, None, 0.3]), "id 21: a null element"),
        ((22, [0.1, 0.2]), "id 22: 2 dims, not 3"),
    ]:
        with _pytest.raises(ValueError, match=msg):
            hnsw_local_build(spark.createDataFrame(rows + [bad], schema))


def test_quant_expr_equals_lambda(spark):
    """_micro_quant/_int_dot moved from lambda-built HOFs to F.expr
    strings (py4j-chatter shave) — pin that the SQL form computes the
    same values as the python-lambda construction on negative,
    positive, and sub-ulp-boundary components, float32 and float64."""
    from job_post_similarity_spark.operators.ann import (
        _int_dot,
        _micro_quant,
    )

    rows = [
        (1, [0.4999999999999999, -0.5, 0.123456789, -1.0]),
        (2, [1.0, 2.4999999999999996e-07, -2.5e-07, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    legacy_quant = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(1_000_000.0), 0).cast("long"),
    )
    got = df.select(
        "id",
        _micro_quant("embedding").alias("q_new"),
        legacy_quant.alias("q_old"),
    )
    for r in got.collect():
        assert list(r["q_new"]) == list(r["q_old"]), r
    q = df.select("id", _micro_quant("embedding").alias("q"))
    pair = q.alias("a").join(q.alias("b"), F.expr("a.id < b.id"))
    legacy_dot = F.aggregate(
        F.zip_with("a.q", "b.q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = pair.select(
        _int_dot("a.q", "b.q").alias("d_new"), legacy_dot.alias("d_old")
    ).collect()
    assert out and all(r["d_new"] == r["d_old"] for r in out)


def _np_rabitq_reference(vecs, qmat, rotation, k):
    """Pure-numpy replay of the RaBitQ estimator pipeline (encode →
    estimate → exact-rerank-free ordering of the TRUE dots among the
    estimator's shortlist is covered by the Spark test; here we
    replay the ESTIMATOR itself)."""
    import numpy as np

    u = vecs @ rotation.T
    signs = np.where(u >= 0.0, 1.0, -1.0)
    abs_sum = np.maximum(np.rint(np.abs(u).sum(axis=1) * 1e6), 1) / 1e6
    uq = qmat @ rotation.T
    est = (signs @ uq.T) / abs_sum[:, None]
    return est


def test_rabitq_encode_and_estimator_numpy_replay(spark):
    """rabitq_encode's packed sign codes + abs_sum and the scan's
    estimated dots must match a from-scratch numpy replay of the
    published estimator est = <sign(u), u_q>/Σ|u| — the 'numpy replay
    test' the RaBitQ tier is gated on."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        rabitq_encode,
        rabitq_topk_search,
        rabitq_train,
    )

    rng = np.random.default_rng(11)
    n, d = 120, 32
    v = rng.normal(size=(n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    P = rabitq_train(df, "embedding", seed=7)
    # orthonormality + determinism of the trainer
    assert np.allclose(P @ P.T, np.eye(d), atol=1e-10)
    P2 = rabitq_train(df, "embedding", seed=7)
    assert np.array_equal(P, P2)
    codes = rabitq_encode(df, P, "vec_id", "embedding").collect()
    got = {r["vec_id"]: r for r in codes}
    u = v @ P.T
    for i in range(n):
        bits = np.unpackbits(
            np.frombuffer(got[i]["sign_code"], np.uint8)
        )[:d]
        assert np.array_equal(bits, (u[i] >= 0).astype(np.uint8)), i
        assert got[i]["abs_sum"] == int(np.rint(np.abs(u[i]).sum() * 1e6))
    # end-to-end: Spark top-k == numpy replay (estimator shortlist
    # then exact-dot rerank, both replayed)
    qn = 6
    qdf = df.filter(F.col("vec_id") < qn)
    out = rabitq_topk_search(
        qdf, df, k=3, rotation=P, shortlist=16, include_self=False
    ).collect()
    est = _np_rabitq_reference(v, v[:qn], P, k=3)
    quant = np.sign(v * 1e6) * np.floor(np.abs(v * 1e6) + 0.5)
    dots = (quant @ quant.T).astype(np.int64)
    exp = {}
    for qi in range(qn):
        e = est[:, qi].copy()
        e[qi] = -np.inf  # self-exclusion
        short = sorted(range(n), key=lambda j: (-e[j], j))[:16]
        rer = sorted(short, key=lambda j: (-dots[j, qi], j))[:3]
        exp[qi] = [
            (int(j), int((dots[j, qi] + 10**15) // 10**6 - 10**9))
            for j in rer
        ]
    for r in out:
        j, ppm = exp[r["query_id"]][r["rank"] - 1]
        assert r["neighbor_id"] == j, (r, exp[r["query_id"]])
        assert abs(r["similarity"] - ppm / 1e6) < 1e-12


def test_rabitq_planted_twin_recall_and_dispatch(spark):
    """Planted exact twins must come back at rank 1 through BOTH the
    operator and the VectorSearch('RaBitQ') descriptor dispatch — an
    identical vector rotates and sign-encodes identically, shares the
    abs_sum, so its estimate equals the query's own maximal estimate
    and the exact rerank puts it first."""
    import numpy as np

    from job_post_similarity_spark.index_api import VectorSearch
    from job_post_similarity_spark.operators.ann import (
        rabitq_topk_search,
    )

    rng = np.random.default_rng(23)
    n, d = 300, 32
    v = rng.normal(size=(n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    rows += [(int(i + 100000), [float(x) for x in v[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 20)
    hits = rabitq_topk_search(queries, df, k=2).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in hits if r["rank"] == 1}
    assert top1 == {i: i + 100000 for i in range(20)}
    ix = VectorSearch(dimension=d, index_description="RaBitQ")
    ix.exact_shortcut_rows = 1  # force the descriptor tier at test size
    ix.add(df)
    out = ix.search(queries, k=2).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert top1 == {i: i + 100000 for i in range(20)}


def test_rabitq_ivf_planted_twin_recall(spark):
    """RaBitQ,IVF composition: an identical twin shares its
    original's single coarse list, the query's own list is always
    among its probes, so the twin is scanned, ties the query's
    self-estimate, and the exact rerank pins it at rank 1. Also pins
    that the scan PRUNES: a probe-pair join carries only probed
    buckets."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        rabitq_ivf_topk_search,
        rabitq_topk_search,
    )

    rng = np.random.default_rng(41)
    n, d = 400, 32
    centers = rng.normal(size=(8, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v = np.vstack([
        (centers[i % 8] + 0.15 * rng.normal(size=d)) for i in range(n)
    ])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    rows += [(int(i + 100000), [float(x) for x in v[i]]) for i in range(16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 16)
    hits = rabitq_ivf_topk_search(
        queries, df, k=2, n_centroids=8, n_probe=2, seed=5
    ).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in hits if r["rank"] == 1}
    assert top1 == {i: i + 100000 for i in range(16)}
    # flat and IVF tiers agree on the planted top-1 (the pruning
    # must not lose the twin)
    flat = rabitq_topk_search(queries, df, k=1, seed=5).collect()
    flat1 = {r["query_id"]: r["neighbor_id"] for r in flat}
    assert flat1 == top1
    # descriptor dispatch: 'RaBitQ,IVF8' routes the composition and
    # memoizes (rotation, centers, bucketed codes)
    from job_post_similarity_spark.index_api import VectorSearch

    ix = VectorSearch(dimension=d, index_description="RaBitQ,IVF8")
    ix.exact_shortcut_rows = 1
    ix.add(df)
    out = ix.search(queries, k=2).collect()
    assert len(ix._epoch.rabitq) == 3
    t1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert t1 == {i: i + 100000 for i in range(16)}


def test_stream_rabitq_topk_multibatch_equals_batch(spark, tmp_path):
    """Streaming 1-bit serving == batch serving over the union of
    micro-batches: query files streamed one per trigger against the
    static rotation + code table accumulate exactly the batch
    operator's rows (per-query independence); an empty stream
    returns the schema-stable empty frame."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        rabitq_encode,
        rabitq_topk_search,
        rabitq_train,
    )
    from job_post_similarity_spark.streaming import (
        stream_rabitq_topk_search,
    )

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(90, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(90)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    P = rabitq_train(df, "embedding", seed=3)
    codes = rabitq_encode(df, P)
    qids = [2, 19, 40, 66, 85]
    qdf = df.filter(F.col("vec_id").isin(qids))
    qdir = str(tmp_path / "queries")
    qdf.repartition(2).write.parquet(qdir)
    stream = (
        spark.readStream.schema(qdf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    got = stream_rabitq_topk_search(
        spark, stream, df, str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        k=3, rotation=P, codes=codes,
    ).collect()
    want = rabitq_topk_search(
        qdf, df, k=3, rotation=P, codes=codes
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == len(qids) * 3

    # empty stream: no sink files -> schema-stable empty frame
    edir = str(tmp_path / "equeries")
    qdf.limit(0).write.parquet(edir)
    estream = (
        spark.readStream.schema(qdf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(edir)
    )
    empty = stream_rabitq_topk_search(
        spark, estream, df, str(tmp_path / "eout"),
        checkpoint_dir=str(tmp_path / "eckpt"),
        k=3, rotation=P, codes=codes,
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "neighbor_id", "similarity", "rank",
    ]


# ---------------------------------------------------------------------------
# Round-12 ADVICE regressions
# ---------------------------------------------------------------------------


def test_hnsw_serving_state_sentinel_layer_sizes(spark):
    """ADVICE r11 (medium): builder layer_sizes above size_cap are
    CAPPED SENTINELS, not cardinalities — the serving-state build
    must never compare one against broadcast_cap directly. With a
    trustworthy n the estimate is max(sentinel, n/m^l); when n itself
    came from the capped probe (no corpus_rows) a sentinel-sized
    layer is SKIPPED entirely (serving falls back to the in-plan
    derivation instead of materializing an unread full-layer table)."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        HnswSnapshot,
        hnsw_hierarchy_build,
        hnsw_levels,
        hnsw_serving_state,
    )

    rng = np.random.default_rng(3)
    v = rng.normal(size=(60, 16))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    df = _vec_df(spark, v)
    meta = {}
    hier = hnsw_hierarchy_build(df, k=4, iters=2, entry_budget=4, meta=meta)
    top = meta["top_layer"]
    assert top >= 1  # the scenarios below need a real upper layer
    common = dict(
        id_col="vec_id", vec_col="embedding", materialize=False,
        start_budget=1,  # nothing fits -> the upper-layer loop runs
    )
    # (a) sentinel size + capped n probe (no corpus_rows, corpus over
    # broadcast_cap): layer 1 tab SKIPPED, layer 0 over the cap too
    tabs = hnsw_serving_state(
        df, hier, top, layer_sizes={1: 21}, size_cap=20,
        broadcast_cap=20, **common,
    )
    assert 1 not in tabs and 0 not in tabs
    # (b) sentinel size + trustworthy n: est = max(21, 60//2) = 30,
    # within the cap -> built; layer 0 is never built above the cap
    tabs = hnsw_serving_state(
        df, hier, top, layer_sizes={1: 21}, size_cap=20,
        broadcast_cap=40, corpus_rows=60, **common,
    )
    assert 1 in tabs and 0 not in tabs
    assert tabs[1].count() > 0
    # (b') the whole corpus within the cap: one HnswSnapshot
    # serving every layer instead of per-layer tables
    snap = hnsw_serving_state(
        df, hier, top, layer_sizes={1: 21}, size_cap=20,
        broadcast_cap=100, corpus_rows=60, **common,
    )
    assert isinstance(snap, HnswSnapshot)
    assert snap.top_layer == top
    assert snap.layer_sizes[0] == 60
    levels = hnsw_levels(df)
    for l in (1, top):
        assert snap.layer_sizes[l] == levels.filter(F.col("level") >= l).count()
    assert snap.layer_sizes[1] > 0
    snap.release()
    # (c) sentinel size + trustworthy n, estimate OVER the cap:
    # skipped even though the raw sentinel (21) sits under it
    tabs = hnsw_serving_state(
        df, hier, top, layer_sizes={1: 21}, size_cap=20,
        broadcast_cap=25, corpus_rows=60, **common,
    )
    assert 1 not in tabs
    # (d) EXACT (non-sentinel) size is trusted even under a capped
    # probe: true layer-1 membership fits broadcast_cap=40 while the
    # corpus probe (41 rows) caps out
    true_l1 = meta["layer_sizes"].get(1)
    if true_l1 is not None and true_l1 <= 40:
        tabs = hnsw_serving_state(
            df, hier, top, layer_sizes={1: true_l1}, size_cap=2000,
            broadcast_cap=40, **common,
        )
        assert 1 in tabs


def _clustered_unit(seed, clusters, per, dim):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v = np.concatenate(
        [c + 0.05 * rng.normal(size=(per, dim)) for c in centers]
    )
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _typed_vec_df(spark, ids, vecs, id_t="bigint", el_t="double"):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": list(ids), "embedding": [list(map(float, v)) for v in vecs]}
        ),
        f"vec_id {id_t}, embedding array<{el_t}>",
    )


def test_hnsw_snapshot_tier_equals_relational(spark, monkeypatch):
    """hnsw_topk_search through the HnswSnapshot returns the
    relational reference tier's rows in the same order, byte for byte:
    fitted seed, forced walks from the entry membership
    (start_budget=1), a fitted seed plus forced walks, corpus-member
    queries (self-exclusion) and external ids, f64 and f32 vectors,
    bigint and string ids, k one below beam, a 1100-query batch
    (several seed blocks) served on the driver and, with the driver
    cut patched below it, by the broadcast scan + orderBy, an empty
    batch (same schema, id types kept), an upper
    layer with edges to non-members (the walk must not step off its
    layer), and an empty entry layer (the smallest-id backstop seeds
    alone)."""
    import numpy as np

    from job_post_similarity_spark.operators import ann
    from job_post_similarity_spark.operators.ann import (
        HnswSnapshot,
        hnsw_hierarchy_build,
        hnsw_levels,
        hnsw_serving_state,
        hnsw_topk_search,
    )

    vecs = _clustered_unit(23, 8, 25, 16)
    n = len(vecs)
    rng = np.random.default_rng(29)

    def same(queries, df, snap, kw):
        want = hnsw_topk_search(queries, df, **kw)
        got = hnsw_topk_search(queries, df, serving_state=snap, **kw)
        assert [
            (f.name, f.dataType) for f in got.schema.fields
        ] == [(f.name, f.dataType) for f in want.schema.fields]
        rows = got.collect()
        assert [tuple(r) for r in rows] == [
            tuple(r) for r in want.collect()
        ], kw
        return rows

    for id_t, el_t in (("bigint", "double"), ("string", "float")):
        ids = list(range(n)) if id_t == "bigint" else [f"p{i:04d}" for i in range(n)]
        df = _typed_vec_df(spark, ids, vecs, id_t, el_t)
        meta = {}
        hier = hnsw_hierarchy_build(
            df, k=8, iters=3, entry_budget=8, meta=meta
        ).localCheckpoint()
        snap = hnsw_serving_state(df, hier, meta["top_layer"], corpus_rows=n)
        assert isinstance(snap, HnswSnapshot)
        sizes = meta["layer_sizes"]
        assert meta["top_layer"] >= 2 and sizes[2] < sizes[1]
        base = dict(
            k=3, hierarchy=hier, entry_budget=8,
            top_layer=meta["top_layer"], layer_sizes=sizes,
            size_cap=meta["size_cap"],
        )
        members = df.filter(F.col("vec_id").isin(ids[::17]))
        ext_ids = (
            [10_000 + i for i in range(12)]
            if id_t == "bigint"
            else [f"q{i}" for i in range(12)]
        )
        noisy = vecs[::17] + 0.02 * rng.normal(size=(12, 16))
        external = _typed_vec_df(spark, ext_ids, noisy, id_t, el_t)
        cases = [
            (members, {}),  # fitted seed: layer 1 fits 1024
            (members, {"start_budget": 1}),  # entry seed + walks
            (external, {"start_budget": 1}),
            (external, {"k": 15, "beam": 16}),
        ]
        if id_t == "bigint":
            cases += [
                # fitted layer 2, forced walk over layer 1
                (members, {"start_budget": sizes[2], "max_walks": 99}),
                (external, {}),
            ]
        for queries, extra in cases:
            rows = same(queries, df, snap, {**base, **extra})
            assert len(rows) == 12 * extra.get("k", 3)
        if id_t == "bigint":
            # a batch of several seed blocks: on the driver, then
            # over the (patched) cut through the scan + orderBy
            big = _typed_vec_df(
                spark,
                range(20_000, 21_100),
                vecs[rng.integers(0, n, 1100)]
                + 0.02 * rng.normal(size=(1100, 16)),
            )
            assert len(same(big, df, snap, base)) == 1100 * 3
            monkeypatch.setattr(ann, "_DRIVER_BATCH", 100)
            assert len(same(big, df, snap, base)) == 1100 * 3
            monkeypatch.undo()
            # empty batch: same schema, no rows
            assert same(external.limit(0), df, snap, base) == []
            # walked layer 2 gets edges from every member to ten
            # non-members of its cluster; hops=0 serves the walks'
            # hand-off as is
            lv = {
                r["vec_id"]: r["level"]
                for r in hnsw_levels(df, max_level=2).collect()
            }
            extra = [
                (2, a, b, 99, 0)
                for a in ids if lv[a] == 2
                for b in [x for x in ids if lv[x] < 2 and x // 25 == a // 25][:10]
            ]
            doctored = hier.unionByName(
                spark.createDataFrame(extra, hier.schema)
            )
            dsnap = hnsw_serving_state(
                df, doctored, meta["top_layer"], corpus_rows=n
            )
            kw = {**base, "hierarchy": doctored, "start_budget": 1, "hops": 0}
            assert len(same(members, df, dsnap, kw)) == 12 * 3
            dsnap.release()
        snap.release()

    # a corpus whose ids never draw level 2: layer 1 is the top built
    # layer and the entry membership above it is empty
    pool = _typed_vec_df(spark, range(400), np.zeros((400, 1)))
    lv = {
        r["vec_id"]: r["level"]
        for r in hnsw_levels(pool, max_level=2).collect()
    }
    pick = [i for i in range(400) if lv[i] == 0][:30]
    pick += [i for i in range(400) if lv[i] == 1][:20]
    df = _typed_vec_df(spark, pick, _clustered_unit(37, 5, 10, 16))
    meta = {}
    hier = hnsw_hierarchy_build(df, k=4, iters=2, entry_budget=8, meta=meta)
    assert meta["top_layer"] == 1
    snap = hnsw_serving_state(df, hier, 1, corpus_rows=50)
    assert snap.layer_sizes[2] == 0
    rows = same(
        df.filter(F.col("vec_id").isin(pick[::7])), df, snap,
        dict(k=2, hierarchy=hier, entry_budget=8, top_layer=1,
             layer_sizes=meta["layer_sizes"], start_budget=1),
    )
    assert len(rows) == 8 * 2
    snap.release()


def test_hnsw_snapshot_dirty_query_raises_in_scan(spark, monkeypatch):
    """A query row with a null vector, a null element or the wrong
    width raises a ValueError naming the query id: from
    hnsw_topk_search itself for a batch served on the driver, whose
    one job is the batch's collect (a parallelized batch: one task,
    not a limit's growing scans), and from the scan for a batch over
    the driver cut. The corpus gets the same checks (and a
    duplicate-id check) when the snapshot is built."""
    from pyspark.errors import PythonException

    from job_post_similarity_spark.operators import ann
    from job_post_similarity_spark.operators.ann import (
        hnsw_hierarchy_build,
        hnsw_serving_state,
        hnsw_topk_search,
    )

    vecs = _clustered_unit(31, 4, 15, 8)
    df = _typed_vec_df(spark, range(60), vecs)
    meta = {}
    hier = hnsw_hierarchy_build(df, k=4, iters=2, entry_budget=4, meta=meta)
    snap = hnsw_serving_state(df, hier, meta["top_layer"], corpus_rows=60)
    good = [float(x) for x in vecs[3]]
    sc = spark.sparkContext
    schema = "vec_id bigint, embedding array<double>"

    def serve(queries, query_rows):
        return hnsw_topk_search(
            queries, df, k=2, hierarchy=hier,
            top_layer=meta["top_layer"],
            layer_sizes=meta["layer_sizes"], query_rows=query_rows,
            serving_state=snap,
        )

    for bad_id, bad_vec, what in (
        (7, None, "a null vector"),
        (8, good[:3], "3 dims, the index has 8"),
        (9, good[:5] + [None] + good[6:], "a null element"),
    ):
        queries = spark.createDataFrame([(100, good), (bad_id, bad_vec)], schema)
        group = f"dirty_query_{bad_id}"
        sc.setJobGroup(group, "dirty query on the driver")
        try:
            with pytest.raises(ValueError) as err:
                serve(queries, 2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert str(err.value) == f"hnsw_topk_search: query id {bad_id} has {what}"
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    # over the driver cut (patched low) the batch is scanned: the same
    # check fails the scan's task
    monkeypatch.setattr(ann, "_DRIVER_BATCH", 100)
    big = spark.createDataFrame(
        [(1000 + i, good) for i in range(1000)] + [(9, good[:3])], schema
    )
    with pytest.raises(PythonException) as err:
        serve(big, None).collect()
    assert "ValueError: hnsw_topk_search: query id 9 has 3 dims, the index has 8" in str(
        err.value
    )
    snap.release()
    # the same checks on the corpus, at snapshot build, name the id
    for rows, what in (
        ([(1, good), (2, good), (2, good)], "HNSW corpus id 2 is not unique"),
        ([(1, good), (2, None)], "HNSW corpus id 2: null vector"),
        ([(1, good), (2, good[:3])], "HNSW corpus id 2: 3 dims, not 8"),
        (
            [(1, good), (2, good[:5] + [None] + good[6:])],
            "HNSW corpus id 2: a null element",
        ),
    ):
        dirty = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        )
        with pytest.raises(ValueError) as err:
            hnsw_serving_state(
                dirty, hier, meta["top_layer"], corpus_rows=len(rows)
            )
        assert str(err.value) == what


def test_rabitq_flat_boundary_ties_partition_invariant(spark):
    """ADVICE r11: the flat scan's per-batch argpartition cut kept
    ARBITRARY members of an estimator tie straddling the top-t value
    — with exact-duplicate vectors (identical sign code + abs_sum ⇒
    identical estimate) the served top-k could change with code-table
    partitioning. The id-ascending boundary resolution makes the
    output identical across partitionings and equal to the global
    (est desc, id asc) order."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        rabitq_encode,
        rabitq_topk_search,
        rabitq_train,
    )

    rng = np.random.default_rng(9)
    d = 24
    base = rng.normal(size=d)
    base /= np.linalg.norm(base)
    other = rng.normal(size=(10, d))
    other /= np.linalg.norm(other, axis=1, keepdims=True)
    # ids 0..39 all share ONE vector: every estimate ties exactly and
    # the shortlist cut (8) lands strictly inside the tie group
    rows = [(int(i), [float(x) for x in base]) for i in range(40)]
    rows += [(int(100 + j), [float(x) for x in other[j]]) for j in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(
        [(1000, [float(x) for x in base])],
        "vec_id long, embedding array<double>",
    )
    P = rabitq_train(df, "embedding", seed=3)
    codes = rabitq_encode(df, P, "vec_id", "embedding")
    outs = []
    for parts in (1, 7):
        got = rabitq_topk_search(
            qdf, df, k=5, rotation=P,
            codes=codes.repartition(parts), shortlist=8,
        ).collect()
        outs.append(sorted((r["neighbor_id"], r["rank"]) for r in got))
    assert outs[0] == outs[1]
    # and the winners are the id-smallest tied duplicates
    assert [n for n, _ in outs[0]] == [0, 1, 2, 3, 4]


def test_rabitq_ivf_probe_matches_assignment_arithmetic(spark):
    """ADVICE r11: the query-side centroid probe must share
    ivf_assign_with_centers' expanded |x|² − 2x·c + |c|² batch
    expression verbatim — the (c−x)² form can order near-tied
    centroids differently under float rounding. Pin: for queries that
    ARE corpus rows, probe #1 equals the corpus-side bucket on every
    row."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        _lloyd_kmeans,
        _quantizer_train_sample,
        ivf_assign_with_centers,
        rabitq_ivf_topk_search,
    )

    rng = np.random.default_rng(17)
    n, d = 200, 16
    v = rng.normal(size=(n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mat = _quantizer_train_sample(df, "embedding", n, 5, None)
    centers = _lloyd_kmeans(mat, 8, 10, 5)
    assigned = {
        r["vec_id"]: r["bucket"]
        for r in ivf_assign_with_centers(
            df, centers, "embedding", n_probe=1
        ).collect()
    }
    # replicate the operator's driver-side probe expression
    cents = np.asarray(centers, dtype=np.float64)
    X = np.asarray(v, dtype=np.float64)
    d2 = (
        (X * X).sum(axis=1)[:, None]
        - 2.0 * (X @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )
    probes = np.argsort(d2, axis=1, kind="stable")[:, :1]
    for i in range(n):
        assert int(probes[i][0]) == assigned[i], i
    # end to end: n_probe=1 must still find every query's own row at
    # rank 1 (its list is probed by the shared arithmetic)
    qdf = df.filter(F.col("vec_id") < 12)
    got = rabitq_ivf_topk_search(
        qdf, df, k=1, n_centroids=8, n_probe=1, seed=5,
        include_self=True, centers=centers,
    ).collect()
    assert {r["query_id"]: r["neighbor_id"] for r in got} == {
        i: i for i in range(12)
    }


def test_release_relation_frees_persisted_and_checkpointed(spark):
    """ADVICE r11: DataFrame.unpersist() is a silent no-op on a
    localCheckpoint()ed relation (blocks belong to the internal
    checkpointed RDD) — release_relation must actually free the
    blocks for BOTH memoization styles, verified against the
    context's persistent-RDD registry."""
    from job_post_similarity_spark.operators.ann import release_relation

    def cached_ids():
        m = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it, out = m.iterator(), set()
        while it.hasNext():
            out.add(int(it.next()._1()))
        return out

    before = cached_ids()
    p = spark.range(100).selectExpr("id", "id * 2 as b").persist()
    p.count()
    ck = spark.range(100).selectExpr("id", "id * 3 as c").localCheckpoint()
    added = cached_ids() - before
    assert added  # both live in the registry
    # plain unpersist does NOT free the checkpointed blocks
    ck.unpersist()
    assert cached_ids() - before
    release_relation(p)
    release_relation(ck)
    assert cached_ids() - before == set()


def test_micro_quant_int_dot_quoted_identifiers(spark):
    """ADVICE r11: _micro_quant/_int_dot interpolate caller-supplied
    column names into F.expr SQL — names needing backtick quoting
    (spaces, hyphens) are public VectorSearch parameters and must
    parse, while dots must keep resolving as alias QUALIFIERS
    (``a.q``) exactly as the old F.col path did."""
    from job_post_similarity_spark.operators.ann import (
        _int_dot,
        _micro_quant,
    )

    df = spark.createDataFrame(
        [([0.5, -0.25], [1.0, 0.5])],
        ["my vec col-1", "plain"],
    )
    got = df.select(
        _micro_quant("my vec col-1").alias("q1"),
        _micro_quant("plain").alias("q2"),
    ).select(_int_dot("q1", "q2").alias("dot")).collect()
    want = 500000 * 1000000 + (-250000) * 500000
    assert got[0]["dot"] == want
    # alias-qualified references still resolve (the regression the
    # first quoting attempt introduced)
    q = df.select(
        _micro_quant("plain").alias("q"), F.lit(1).alias("j")
    )
    got2 = (
        q.alias("a")
        .join(q.alias("b"), "j")
        .select(_int_dot("a.q", "b.q").alias("dot"))
        .collect()
    )
    assert got2[0]["dot"] == 1000000 * 1000000 + 500000 * 500000


def test_hierarchy_batched_insert_equals_per_layer(spark):
    """r12 batched multi-layer repair: when ≥2 layers dispatch to
    graph_insert, ONE struct-keyed batched insert must produce
    row-for-row what the per-layer calls produce (same edges, ranks,
    sim_ppm per layer) — the py4j-amortization lever (NOTES r12
    candidate (b)) must be a pure substitution."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        hnsw_hierarchy_build,
        hnsw_hierarchy_insert,
        hnsw_nav_members,
    )

    rng = np.random.default_rng(29)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        pts = c + 0.12 * rng.normal(size=(30, 16))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        vecs.extend(pts)
    df = _vec_df(spark, vecs)  # 240 rows
    kw = dict(k=4, iters=2, m=2, exact_budget=40, entry_budget=10)
    meta = {}
    hier = hnsw_hierarchy_build(df, meta=meta, **kw).localCheckpoint()
    nav = hnsw_nav_members(df, m=2, top_layer=meta["top_layer"])
    # twins of existing rows -> deterministic md5 levels; enough rows
    # that >=2 stored layers see new members
    twins = df.filter(F.col("vec_id") < 60).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    common = dict(
        corpus_rows=240, nav_members=nav,
        old_layer_sizes=meta["layer_sizes"],
        old_top_layer=meta["top_layer"], **kw,
    )
    m_a, m_b = {}, {}
    per_layer = hnsw_hierarchy_insert(
        df, hier, twins, meta=m_a, batch_layers=False, **common
    )
    batched = hnsw_hierarchy_insert(
        df, hier, twins, meta=m_b, batch_layers=True, **common
    )
    # the fixture must actually exercise the batched path: >=2 layers
    # above exact_budget with new members
    big = [
        l for l, s in m_b["layer_sizes"].items()
        if l >= 1 and s > kw["exact_budget"]
    ]
    assert len(big) >= 2, m_b["layer_sizes"]
    assert m_a == m_b
    a = sorted(map(tuple, per_layer.collect()))
    b = sorted(map(tuple, batched.collect()))
    assert a == b


def test_rabitq_chunked_equals_single(spark):
    """VERDICT r11 item 4: the serving-batch budget is in ELEMENTS
    (rows × dim) and oversized batches auto-chunk — chunked serving
    must equal single-pass serving row-for-row on BOTH RaBitQ tiers
    (per-query independence), and a 150k-row batch at small dim must
    be served, not refused."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        _collect_query_batch,
        rabitq_encode,
        rabitq_ivf_topk_search,
        rabitq_topk_search,
        rabitq_train,
    )

    rng = np.random.default_rng(31)
    n, d = 150, 16
    v = rng.normal(size=(n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = df.filter(F.col("vec_id") < 25)
    P = rabitq_train(df, "embedding", seed=3)
    codes = rabitq_encode(df, P, "vec_id", "embedding")
    single = sorted(map(tuple, rabitq_topk_search(
        qdf, df, k=3, rotation=P, codes=codes, shortlist=8,
    ).collect()))
    # chunk_elements = 7 rows worth -> 4 chunks over the 25 queries
    chunked = sorted(map(tuple, rabitq_topk_search(
        qdf, df, k=3, rotation=P, codes=codes, shortlist=8,
        chunk_elements=7 * d,
    ).collect()))
    assert chunked == single and len(single) == 75
    ivf_kw = dict(k=3, n_centroids=4, n_probe=2, seed=5, shortlist=8)
    single_i = sorted(map(tuple, rabitq_ivf_topk_search(
        qdf, df, rotation=P, **ivf_kw
    ).collect()))
    chunked_i = sorted(map(tuple, rabitq_ivf_topk_search(
        qdf, df, rotation=P, chunk_elements=7 * d, **ivf_kw
    ).collect()))
    assert chunked_i == single_i and len(single_i) == 75
    # dimension-aware refusal: budget is elements, so 150k rows at a
    # small dim COLLECT fine ...
    big = spark.range(150_000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(4)]).alias("embedding"),
    )
    got = _collect_query_batch(
        big, "vec_id", "embedding", 4, 64_000_000, "t"
    )
    assert len(got) == 150_000
    # ... and the refusal trips on ELEMENTS, not a row count
    import pytest as _pytest

    with _pytest.raises(ValueError, match="elements"):
        _collect_query_batch(
            big, "vec_id", "embedding", 4, 100_000, "t"
        )


def test_hierarchy_insert_m3_no_overflow(spark):
    """r12 regression: the level-histogram cap must stay inside
    int64 for m >= 3 (a fixed cap of 48 built a 3^48 literal and
    crashed plan construction) — a public-API m=3 insert must run
    and match the m=3 rebuild's layer set."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        hnsw_hierarchy_build,
        hnsw_hierarchy_insert,
    )

    rng = np.random.default_rng(7)
    v = rng.normal(size=(90, 12))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    df = _vec_df(spark, v)
    kw = dict(k=4, iters=2, m=3, exact_budget=50, entry_budget=8)
    meta = {}
    hier = hnsw_hierarchy_build(df, meta=meta, **kw).localCheckpoint()
    twins = df.filter(F.col("vec_id") < 12).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
    )
    m2 = {}
    out = hnsw_hierarchy_insert(
        df, hier, twins, corpus_rows=90, meta=m2, **kw
    )
    layers = sorted(
        r["layer"] for r in out.select("layer").distinct().collect()
    )
    assert layers[0] == 0 and m2["layer_sizes"][0] == 102


def test_rabitq_residual_encode_replay_and_planted_twin(spark):
    """Residual RaBitQ,IVF (the paper's actual IVF form): codes must
    replay as sign(P(x − c_bucket)) with abs_sum = Σ|u|·1e6 and the
    exact residual energy res_nrm2; planted twins (same vector ⇒
    same bucket ⇒ identical residual code) must come back at rank 1
    through BOTH the operator and the 'RaBitQ,IVF8,Residual'
    descriptor."""
    import numpy as np

    from job_post_similarity_spark.index_api import VectorSearch
    from job_post_similarity_spark.operators.ann import (
        _lloyd_kmeans,
        _quantizer_train_sample,
        ivf_assign_with_centers,
        rabitq_encode_residual,
        rabitq_ivf_topk_search,
        rabitq_train,
    )

    rng = np.random.default_rng(43)
    n, d = 320, 32
    cents0 = rng.normal(size=(8, d))
    cents0 /= np.linalg.norm(cents0, axis=1, keepdims=True)
    v = np.vstack([
        (cents0[i % 8] + 0.15 * rng.normal(size=d)) for i in range(n)
    ])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    rows += [(int(i + 100000), [float(x) for x in v[i]]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    P = rabitq_train(df, "embedding", seed=7)
    mat = _quantizer_train_sample(df, "embedding", n + 12, 5, None)
    centers = _lloyd_kmeans(mat, 8, 10, 5)
    assigned = ivf_assign_with_centers(df, centers, "embedding", n_probe=1)
    got = {
        r["vec_id"]: r
        for r in rabitq_encode_residual(
            assigned, P, centers, "vec_id", "embedding"
        ).collect()
    }
    C = np.asarray(centers)
    buckets = {r["vec_id"]: r["bucket"] for r in assigned.collect()}
    for i in list(range(0, n, 37)) + [100000]:
        x = v[i % 100000 if i >= 100000 else i]
        r = x - C[buckets[i]]
        u = r @ np.asarray(P).T
        bits = np.unpackbits(
            np.frombuffer(got[i]["sign_code"], np.uint8)
        )[:d]
        assert np.array_equal(bits, (u >= 0).astype(np.uint8)), i
        assert got[i]["abs_sum"] == int(np.rint(np.abs(u).sum() * 1e6))
        assert abs(got[i]["res_nrm2"] - (r * r).sum()) < 1e-12
    # twin shares code + scalars with its original exactly
    assert got[0]["sign_code"] == got[100000]["sign_code"]
    assert got[0]["abs_sum"] == got[100000]["abs_sum"]
    assert got[0]["res_nrm2"] == got[100000]["res_nrm2"]
    queries = df.filter(F.col("vec_id") < 12)
    hits = rabitq_ivf_topk_search(
        queries, df, k=2, n_centroids=8, n_probe=2, seed=5,
        rotation=P, centers=centers, residual=True,
    ).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in hits if r["rank"] == 1}
    assert top1 == {i: i + 100000 for i in range(12)}
    ix = VectorSearch(dimension=d, index_description="RaBitQ,IVF8,Residual")
    ix.exact_shortcut_rows = 1
    ix.add(df)
    out = ix.search(queries, k=2).collect()
    t1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert t1 == {i: i + 100000 for i in range(12)}


def test_rabitq_residual_beats_raw_on_tight_clusters(spark):
    """The residual form's reason to exist: at tight cluster spread
    the RAW within-list sign codes collapse toward the centroid's
    code (every member's rotated signs agree), so the raw estimator
    cannot order candidates inside a list — residual codes keep
    discriminating. Measure shortlist-recall@1 vs the exact
    neighbor with a TIGHT shortlist on both forms; residual must be
    at least as good, and strictly better on this fixture."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        _lloyd_kmeans,
        _quantizer_train_sample,
        rabitq_ivf_topk_search,
        rabitq_train,
    )

    rng = np.random.default_rng(3)
    n, d = 240, 48
    cents0 = rng.normal(size=(4, d))
    cents0 /= np.linalg.norm(cents0, axis=1, keepdims=True)
    # spread 0.04: raw sign codes inside a cluster are ~identical
    v = np.vstack([
        (cents0[i % 4] + 0.04 * rng.normal(size=d)) for i in range(n)
    ])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qn = 24
    qdf = df.filter(F.col("vec_id") < qn)
    # exact top-1 (integer micro-dot currency, self excluded)
    q = np.sign(v * 1e6) * np.floor(np.abs(v * 1e6) + 0.5)
    dots = (q @ q.T).astype(np.int64)
    exact1 = {}
    for i in range(qn):
        order = sorted(
            (j for j in range(n) if j != i),
            key=lambda j: (-dots[j, i], j),
        )
        exact1[i] = order[0]
    P = rabitq_train(df, "embedding", seed=11)
    mat = _quantizer_train_sample(df, "embedding", n, 9, None)
    centers = _lloyd_kmeans(mat, 4, 10, 9)
    recalls = {}
    for form in (False, True):
        hits = rabitq_ivf_topk_search(
            qdf, df, k=1, n_centroids=4, n_probe=1, seed=9,
            rotation=P, centers=centers, residual=form,
            shortlist=3,  # tight: the estimator must do the work
        ).collect()
        got1 = {r["query_id"]: r["neighbor_id"] for r in hits}
        recalls[form] = sum(
            got1.get(i) == exact1[i] for i in range(qn)
        ) / qn
    # seed-pinned on this fixture: raw 0.083 (collapsed codes),
    # residual 0.333 — a 4× shortlist-recall gap at 1 bit/dim
    assert recalls[True] > recalls[False], recalls
    assert recalls[False] <= 0.2, recalls  # raw really does collapse
    assert recalls[True] >= 0.25, recalls


def test_rabitq_residual_chunked_equals_single(spark):
    """Residual-mode chunked serving (budget divides by n_probe too)
    must equal single-pass serving row-for-row."""
    import numpy as np

    from job_post_similarity_spark.operators.ann import (
        rabitq_ivf_topk_search,
    )

    rng = np.random.default_rng(21)
    n, d = 160, 16
    v = rng.normal(size=(n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = df.filter(F.col("vec_id") < 20)
    kw = dict(
        k=3, n_centroids=4, n_probe=2, seed=5, shortlist=8,
        residual=True,
    )
    single = sorted(map(tuple, rabitq_ivf_topk_search(
        qdf, df, **kw
    ).collect()))
    chunked = sorted(map(tuple, rabitq_ivf_topk_search(
        qdf, df, chunk_elements=6 * d * 2, **kw
    ).collect()))
    assert chunked == single and len(single) == 60


def test_fixture_entries_equal_default_graph_entries(spark):
    """The serve fixture's memoized entry picks must equal
    ``default_graph_entries`` over the same corpus: both apply the
    ceil(n/32) stride to the vec_id global rank, and the warm
    hierarchy-insert path passes the MEMOIZED list to its layer-0
    repair instead of re-deriving the stride per call — legal only
    while the two selections are membership-identical."""
    import __spark_entry__ as entrymod
    from job_post_similarity_spark.operators.ann import (
        default_graph_entries,
    )

    clustered, n, step = entrymod._clustered_emb_corpus(
        spark, "/root/testdata/sf0.001"
    )
    entries, _qids = entrymod._graph_fixture_picks(clustered, n, step)
    emb = clustered.select("vec_id", "embedding")
    assert sorted(entries) == sorted(default_graph_entries(emb))
