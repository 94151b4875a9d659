"""End-to-end pipeline, embedder, preprocess composite, streaming,
multimodal, and sampling tests."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from job_post_similarity_spark.config import EngineConfig
from job_post_similarity_spark.functions import embed as E
from job_post_similarity_spark.operators import multimodal, sampling
from job_post_similarity_spark.plans import pipeline as P
from job_post_similarity_spark.schemas import (
    SchemaContractError,
    require_columns,
    require_embedding_dim,
)


def test_hashing_embedder_deterministic_and_unit_norm(spark):
    df = spark.createDataFrame(
        [Row(id=1, text="hello world again"), Row(id=2, text="hello world again")]
    )
    emb = P.embed_documents(df, "text", "id", dim=32)
    rows = {r["id"]: r["embedding"] for r in emb.collect()}
    assert rows[1] == rows[2]  # same text ⇒ identical vector
    norm = sum(x * x for x in rows[1]) ** 0.5
    assert abs(norm - 1.0) < 1e-5
    # different seed ⇒ different projection
    e2 = E.hashing_embedder(dim=32, seed=7)
    other = df.select(e2(F.col("text")).alias("v")).first()["v"]
    assert list(other) != list(rows[1])


def test_embedder_similarity_semantics(spark):
    """Shared tokens ⇒ higher cosine than disjoint tokens."""
    df = spark.createDataFrame(
        [
            Row(id=1, text="data engineer spark python sql"),
            Row(id=2, text="data engineer spark python airflow"),
            Row(id=3, text="zebra giraffe lion elephant hippo"),
        ]
    )
    emb = P.embed_documents(df, "text", "id", dim=64).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    from job_post_similarity_spark.operators import knn

    sims = {
        (r["id1"], r["id2"]): r["similarity"]
        for r in knn.similarity_pairs(emb, "id", "embedding", -1.0).collect()
    }
    assert sims[(1, 2)] > sims[(1, 3)]
    assert sims[(1, 2)] > sims[(2, 3)]


def test_run_similarity_pipeline_end_to_end(spark, documents):
    cfg = EngineConfig()
    cfg.index_description = "Flat"
    cfg.similarity_threshold = 0.90
    out = P.run_similarity_pipeline(spark, documents, cfg)
    rows = out.collect()
    assert out.columns == ["id1", "id2", "similarity"]
    for r in rows:
        assert r["id1"] < r["id2"]
        assert r["similarity"] >= 0.90


def test_pipeline_dedups_identical_texts_before_embedding(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="same exact text here"),
            Row(doc_id=2, text="same exact text here"),
            Row(doc_id=3, text="other words"),
            Row(doc_id=4, text=""),
            Row(doc_id=5, text=None),
        ]
    )
    cfg = EngineConfig()
    cfg.index_description = "Flat"
    cfg.similarity_threshold = 0.99
    out = P.run_similarity_pipeline(spark, docs, cfg).collect()
    # doc 2 deduped away (same text), empty/null dropped ⇒ no pair at all
    assert out == []


def test_preprocess_jobs_composite(spark):
    from job_post_similarity_spark.schemas import JOBS_RAW_COLUMNS

    base = {c: "x" for c in JOBS_RAW_COLUMNS}
    rows = []
    for i, (desc, date) in enumerate(
        [
            ("<p>Senior Engineer</p>", "2025-01-01"),
            # whitespace-only variant: identical after HTML-clean collapse.
            # (The reference dedups BEFORE lowercasing — case variants
            # are NOT dups; preprocess_data.py:124-130 order.)
            ("<p>Senior   Engineer</p>", "2025-01-02"),
            ("<p>Data Analyst</p>", None),  # dropped: null date
            ("<p>ML Engineer</p>", "2025-01-03"),
        ]
    ):
        r = dict(base)
        r["lid"] = f"{i:02d}"
        r["jobDescRaw"] = desc
        r["correctDate"] = date
        r["finalState"] = "CA ,"
        r["finalZipcode"] = "remote"
        r["finalCity"] = "new york"
        rows.append(Row(**r))
    df = spark.createDataFrame(rows)
    out = P.preprocess.preprocess_jobs(df)
    got = out.orderBy("lid").collect()
    assert [r["lid"] for r in got] == ["00", "03"]
    assert got[0]["jobDescClean"] == "senior engineer"
    assert got[0]["finalState"] == "CA"
    assert got[0]["finalZipcode"] == "REMOTE"
    assert set(out.columns) == {
        "jobTitle", "companyName", "lid", "finalZipcode", "finalState",
        "finalCity", "correctDate", "jobDescClean",
    }


def test_schema_contract_helpers(spark, embeddings):
    require_columns(embeddings, ["vec_id", "embedding"])
    try:
        require_columns(embeddings, ["nope"])
        raise AssertionError("should have raised")
    except SchemaContractError:
        pass
    require_embedding_dim(embeddings, "embedding", 64)
    try:
        require_embedding_dim(embeddings, "embedding", 384)
        raise AssertionError("should have raised")
    except SchemaContractError:
        pass


def test_deterministic_sample_stable_and_sized(spark, sf_dir):
    from job_post_similarity_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 1_000_000 + F.col("l_linenumber")
    s1 = sampling.deterministic_sample(li, key, 0.1)
    s2 = sampling.deterministic_sample(li, key, 0.1)
    c1, c2, n = s1.count(), s2.count(), li.count()
    assert c1 == c2  # reproducible
    assert 0.05 * n < c1 < 0.15 * n  # roughly the asked fraction


def test_sample_exact_n_edge_cases(spark, sf_dir):
    from job_post_similarity_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    assert sampling.sample_exact_n(docs, 10).count() == 10
    assert sampling.sample_exact_n(docs, n + 100).count() == n  # clamp
    assert sampling.sample_exact_n(docs, None).count() == n
    assert sampling.sample_exact_n(docs, -5).count() == n  # warn+full


def test_multimodal_plumbing(documents):
    binary = multimodal.attach_binary_payload(documents)
    feats = multimodal.decode_features(binary)
    r = feats.first()
    assert r["feature"] is not None and len(r["feature"]) == 8
    frames = multimodal.frame_sample(binary).collect()
    assert all(f["frame_idx"] >= 0 for f in frames)
    meta = multimodal.multimodal_metadata(binary).first()
    assert len(meta["payload_md5"]) == 32


def test_streaming_matches_batch(spark, sf_dir):
    from job_post_similarity_spark.sources.io import load_table
    from job_post_similarity_spark.streaming import (
        stream_dedup,
        stream_event_counts,
        stream_windowed_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["event_type"], r["cnt"])
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    streamed = {
        (r["event_type"], r["cnt"])
        for r in stream_event_counts(spark, sf_dir, name="t_counts").collect()
    }
    assert streamed == batch

    dd = stream_dedup(spark, sf_dir, name="t_dedup")
    assert dd.count() == ev.select("user_id", "event_type").distinct().count()

    wa = stream_windowed_agg(spark, sf_dir, name="t_win")
    assert wa.count() > 0


def test_jobs_view_and_full_preprocess_on_documents(documents):
    jobs = P.jobs_view_from_documents(documents)
    out = P.preprocess.preprocess_jobs(jobs, order_column="lid")
    rows = out.collect()
    # duplicate constant descriptions collapse to one survivor
    dupes = [r for r in rows if r["jobDescClean"] == "common duplicate posting"]
    assert len(dupes) == 1
    # fills applied: no nulls left in the categorical columns
    for r in rows:
        assert r["companyName"] is not None
        assert r["finalZipcode"] is not None
        assert r["correctDate"] is not None
        assert not r["finalState"].endswith(",")
    # location cleaning: remote normalized, city title-cased
    assert any(r["finalZipcode"] == "fully REMOTE" for r in rows)
    assert all(r["finalCity"].startswith("New Src") for r in rows)


def test_ngram_jaccard_on_pairs_matches_allpairs(documents):
    from job_post_similarity_spark.operators import dedup

    docs = documents.filter(F.col("doc_id") < 40)
    full = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.05)
    # verification on ALL candidate pairs must reproduce the full join
    allpairs = (
        docs.selectExpr("doc_id AS id1")
        .crossJoin(docs.selectExpr("doc_id AS id2"))
        .filter(F.col("id1") < F.col("id2"))
    )
    verified = dedup.ngram_jaccard_on_pairs(
        allpairs, docs, "doc_id", "text", n=2, threshold=0.05
    )
    a = {(r["id1"], r["id2"], r["jaccard"]) for r in full.collect()}
    b = {(r["id1"], r["id2"], r["jaccard"]) for r in verified.collect()}
    assert a == b and len(a) > 0


def test_lookup_report_renders(documents, embeddings):
    from job_post_similarity_spark.operators import knn

    pairs = knn.similarity_pairs(embeddings, "vec_id", "embedding", threshold=0.3)
    md = P.lookup_report(pairs, documents, "doc_id", "text")
    assert md.startswith("# Similarity lookup report")
    assert md.count("## ") >= 1


def test_stream_sessionize_matches_batch(spark, sf_dir):
    from job_post_similarity_spark.operators.sessionize import sessionize
    from job_post_similarity_spark.sources.io import load_table
    from job_post_similarity_spark.streaming import stream_sessionize

    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in sessionize(ev, "user_id", "ts", 30).collect()
    }
    streamed = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in stream_sessionize(
            spark, sf_dir, 30, name="t_sessions"
        ).collect()
    }
    assert batch == streamed and len(batch) > 0


def test_lsh_model_save_load_roundtrip(embeddings, tmp_path):
    from pyspark.ml.feature import BucketedRandomProjectionLSHModel

    from job_post_similarity_spark.operators import ann

    # the API-parity tier warns BY DESIGN — assert-and-swallow so the
    # suite's warning summary only surfaces surprises
    with pytest.warns(UserWarning, match="DEGENERATE"):
        model, prepared = ann.lsh_fit(embeddings, "embedding", 2.0, 4)
    path = str(tmp_path / "lsh_model")
    model.write().overwrite().save(path)
    loaded = BucketedRandomProjectionLSHModel.load(path)
    orig = model.transform(prepared).select("vec_id", "__hashes").collect()
    re = loaded.transform(prepared).select("vec_id", "__hashes").collect()
    assert {(r[0], str(r[1])) for r in orig} == {(r[0], str(r[1])) for r in re}


def test_csv_roundtrip_and_schema_peek(spark, documents, tmp_path):
    from job_post_similarity_spark.sources import io

    path = str(tmp_path / "docs_csv")
    df = documents.select("doc_id", "source", "n_chars")
    io.write_csv(df, path)
    back = io.read_csv(spark, path, schema=df.schema)
    assert sorted(back.collect()) == sorted(df.collect())
    assert io.schema_peek(spark, path, fmt="csv") == ["doc_id", "source", "n_chars"]


def test_cached_stage_memoizes(spark, documents, tmp_path):
    from job_post_similarity_spark.sources.io import cached_stage

    calls = []

    def compute():
        calls.append(1)
        return documents.select("doc_id")

    path = str(tmp_path / "stage")
    a = cached_stage(spark, path, compute)
    b = cached_stage(spark, path, compute)
    assert len(calls) == 1 and a.count() == b.count() == documents.count()


def test_cached_stage_reads_back_the_inferred_schema(spark, tmp_path):
    """A freshly computed stage is read back under the schema it was
    written with (no inference job); that schema must equal the one
    inference gives a later run — non-nullable inputs included."""
    from job_post_similarity_spark.sources.io import cached_stage

    df = spark.range(5).select(
        "id",
        F.col("id").cast("string").alias("s"),
        F.array(F.col("id").cast("double"), F.lit(0.5)).alias("v"),
        F.struct(F.lit(1).alias("a"), F.col("id").cast("float").alias("b")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("mp"),
        F.col("id").cast("decimal(12,2)").alias("dec"),
        F.to_date(F.lit("2024-01-02")).alias("d"),
        F.to_timestamp(F.lit("2024-01-02 03:04:05")).alias("ts"),
    )
    assert not df.schema["id"].nullable
    path = str(tmp_path / "stage")
    fresh = cached_stage(spark, path, lambda: df)
    assert fresh.schema == spark.read.parquet(path).schema
    assert fresh.schema == cached_stage(spark, path, lambda: df).schema
    assert sorted(fresh.collect()) == sorted(df.collect())


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    from job_post_similarity_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select(F.countDistinct("l_orderkey")).first()[0]
    approx = li.select(F.approx_count_distinct("l_orderkey", 0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_curate_corpus_planted_fixtures(spark):
    """Behavioral spec of the curation pipeline on planted documents:
    HTML is stripped before scoring, non-English and low-quality docs
    are rejected, PII differences do NOT defeat the dedup (both
    variants scrub to the same digest, keep-first wins), and the
    funnel counts every stage."""
    from job_post_similarity_spark.plans import pipeline as P

    good = (
        "the quick brown fox jumps over the lazy dog and runs to the "
        "forest with a friend for a long day in the sun " * 2
    )
    rows = [
        (0, "<div><p>" + good + "</p></div>"),          # html + survives
        (1, good + " contact alice@example.com"),        # dup of 2 after scrub
        (2, good + " contact bob@test.org"),             # dup of 1 after scrub
        (3, "der die das und ist nicht mit ein zu " * 8),  # German → rejected
        (4, "!!! ??? *** " * 30),                        # symbol soup → rejected
        (5, "short text"),                               # < min_words → rejected
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = P.curate_corpus(docs, min_quality=0.5, langs=("en",), min_words=10)
    got = out.collect()
    assert [r["doc_id"] for r in got] == [0, 1]  # keep-first: 1 beats 2
    assert all(r["lang_pred"] == "en" for r in got)
    funnel = {r["stage"]: r["n_rows"] for r in P.curation_funnel(docs).collect()}
    assert funnel == {"00_raw": 6, "10_quality_lang": 3, "20_deduped": 2}


def test_sketch_profile_tier_within_tolerance(spark, sf_dir):
    """The sketch profiling operators: HLL++ per-column approx counts
    and mergeable per-group DataSketches HLL with a union rollup — all
    estimates within 5% of exact on the fixture cardinalities."""
    from job_post_similarity_spark.operators import profiling
    from job_post_similarity_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    row = profiling.approx_distinct_counts(
        ev, ["user_id", "event_type"]
    ).first()
    exact_users = ev.select(F.countDistinct("user_id")).first()[0]
    assert abs(row["user_id_approx_distinct"] - exact_users) / exact_users < 0.05
    assert row["event_type_approx_distinct"] in range(
        1, 2 * ev.select("event_type").distinct().count() + 1
    )
    assert row["row_count"] == ev.count()

    prof = profiling.hll_distinct_by_group(ev, "event_type", "user_id")
    rows = {r["group_value"]: r["approx_distinct"] for r in prof.collect()}
    # the NULL row is the union-of-sketches global rollup
    assert abs(rows[None] - exact_users) / exact_users < 0.05
    exact_by_type = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for t, exact in exact_by_type.items():
        assert abs(rows[t] - exact) / exact < 0.05


def test_multimodal_resize_and_frames(documents):
    media = multimodal.attach_binary_payload(documents.limit(60))
    resized = multimodal.resize_images(media, 8, 8).collect()
    assert all(
        (r["resized"] is None) == (r["media_type"] != "image") for r in resized
    )
    assert all(
        len(r["resized"]) == 64 for r in resized if r["media_type"] == "image"
    )
    frames = multimodal.frame_sample(media).collect()
    assert len(frames) > 0
    assert all(r["frame_idx"] < 4 for r in frames)


def test_frame_sample_extractor_tiers(documents):
    """The r6 extractor gate (stub | auto | pyav, the decode_features
    policy): auto falls back per-row to the stub wherever PyAV is
    absent (this container), so the two tiers must emit identical
    frames here; forcing pyav raises driver-side."""
    media = multimodal.attach_binary_payload(documents.limit(60))
    with pytest.raises(ValueError):
        multimodal.frame_sample(media, extractor="bogus")
    stub = multimodal.frame_sample(media).collect()
    auto = multimodal.frame_sample(media, extractor="auto").collect()
    try:
        import av  # noqa: F401

        has_av = True
    except ImportError:
        has_av = False
    if not has_av:
        assert sorted(map(tuple, auto), key=lambda t: (t[0], t[1])) == sorted(
            map(tuple, stub), key=lambda t: (t[0], t[1])
        )
        with pytest.raises(ImportError):
            multimodal.frame_sample(media, extractor="pyav").collect()


@pytest.mark.extras
def test_frame_sample_pyav_real_extraction(spark):
    """REAL PyAV extraction over an in-memory 6-frame video (skips
    where PyAV is absent): ≤4 evenly-spaced DECODED frames, each
    frame_bytes = raw 8x8 grayscale pixels, offsets = pts."""
    av = pytest.importorskip(
        "av",
        reason="PyAV absent — extras lane: pip install -r "
        "requirements-extras.txt && pytest -m extras",
    )
    import io

    import numpy as np
    import pandas as pd

    buf = io.BytesIO()
    with av.open(buf, mode="w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=4)
        stream.width, stream.height, stream.pix_fmt = 8, 8, "yuv420p"
        for v in range(6):
            img = np.full((8, 8, 3), v * 40, dtype=np.uint8)
            frame = av.VideoFrame.from_ndarray(img, format="rgb24")
            for packet in stream.encode(frame):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
    payload = buf.getvalue()

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "payload": [payload],
                "media_type": ["video"],
                "n_bytes": [len(payload)],
            }
        )
    )
    frames = multimodal.frame_sample(df, extractor="pyav").collect()
    assert 1 <= len(frames) <= 4
    assert all(len(r["frame_bytes"]) == 64 for r in frames)
    assert [r["frame_idx"] for r in frames] == list(range(len(frames)))


def test_run_pipeline_cli_stages_and_memoization(spark, documents, tmp_path):
    import os

    from job_post_similarity_spark.main import run_pipeline

    cfg = EngineConfig()
    cfg.text_column, cfg.id_column = "jobDescClean", "lid"
    cfg.index_description, cfg.similarity_threshold = "Flat", 0.90
    cfg.embedding_dim = 32
    raw = P.jobs_view_from_documents(documents.limit(200))
    out = str(tmp_path / "run1")
    pairs = run_pipeline(spark, raw, out, cfg, write_csv=True)
    assert {"id1", "id2", "similarity"} <= set(pairs.columns)
    for stage in ("processed", "embeddings", "similar_pairs"):
        assert os.path.exists(os.path.join(out, stage, "_SUCCESS"))
    csv_dir = os.path.join(out, "similarity_results_csv")
    assert any(f.endswith(".csv") for f in os.listdir(csv_dir))
    # memoization: second run reads checkpoints (equal result)
    again = run_pipeline(spark, raw, out, cfg)
    assert sorted(pairs.collect()) == sorted(again.collect())


def test_run_pipeline_leaks_no_cache_and_bounds_pair_join_jobs(
    spark, documents, tmp_path, monkeypatch
):
    """At the default EngineConfig (HNSW32 -> SRP-LSH broadcast tier), a
    pipeline run leaves the JVM's persisted RDD set as it found it, its
    similar_pairs stage runs at most 5 Spark jobs on 200 posts, and the
    stage reads back with the schema inference would give."""
    import os

    from job_post_similarity_spark.main import run_pipeline
    from job_post_similarity_spark.sources import io

    sc = spark.sparkContext
    group = "test-similar-pairs-stage"
    stage = io.cached_stage

    def grouped_stage(spark_, path, compute, fmt="parquet"):
        if os.path.basename(path) != "similar_pairs":
            return stage(spark_, path, compute, fmt)
        sc.setJobGroup(group, "similar_pairs stage")
        try:
            return stage(spark_, path, compute, fmt)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(io, "cached_stage", grouped_stage)
    for var in ("INDEX_DESCRIPTION", "SIMILARITY_THRESHOLD", "EMBEDDING_DIM",
                "SEARCH_SAMPLE_SIZE", "TEXT_COLUMN", "ID_COLUMN"):
        monkeypatch.delenv(var, raising=False)
    cfg = EngineConfig()
    assert cfg.index_description == "HNSW32"
    raw = P.jobs_view_from_documents(documents.limit(200))
    assert raw.count() == 200
    out = str(tmp_path / "run")
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    pairs = run_pipeline(spark, raw, out, cfg)
    pairs.collect()
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, jobs
    assert pairs.schema == spark.read.parquet(os.path.join(out, "similar_pairs")).schema


def test_main_entry_smoke(spark, documents, tmp_path, monkeypatch):
    from job_post_similarity_spark import main as mainmod

    monkeypatch.setenv("INDEX_DESCRIPTION", "Flat")
    monkeypatch.setenv("TEXT_COLUMN", "jobDescClean")
    monkeypatch.setenv("ID_COLUMN", "lid")
    monkeypatch.setenv("EMBEDDING_DIM", "32")
    in_path = str(tmp_path / "jobs_in")
    P.jobs_view_from_documents(documents.limit(100)).write.parquet(in_path)
    assert mainmod.main([in_path, str(tmp_path / "out")]) == 0


def test_run_evaluation_artifacts(spark, documents, embeddings, tmp_path):
    import os

    from job_post_similarity_spark.evaluate import run_evaluation

    meta = documents.select(F.col("doc_id").alias("vec_id"), "source")
    out = str(tmp_path / "eval")
    arts = run_evaluation(
        spark, embeddings, meta, out,
        n_queries=10, n_random_pairs=100,
    )
    assert set(arts) == {
        "qualitative", "random_baseline", "histogram", "lookup_report",
    }
    for name in ("qualitative", "random_baseline", "histogram"):
        assert any(f.endswith(".csv") for f in os.listdir(arts[name]))
    with open(arts["lookup_report"]) as f:
        assert f.read().startswith("# Similarity lookup report")


def test_run_similarity_pipeline_srp_path(spark, documents):
    """Default HNSW-style config dispatches to the banded SRP tier;
    its pair output must be a subset of the exact tier's."""
    cfg = EngineConfig()
    cfg.index_description = "HNSW32"
    cfg.similarity_threshold = 0.90
    approx = {
        (r["id1"], r["id2"])
        for r in P.run_similarity_pipeline(spark, documents, cfg).collect()
    }
    cfg.index_description = "Flat"
    exact = {
        (r["id1"], r["id2"])
        for r in P.run_similarity_pipeline(spark, documents, cfg).collect()
    }
    assert approx <= exact


def test_partitioned_write_prunes(spark, documents, tmp_path):
    from job_post_similarity_spark.sources import io

    path = str(tmp_path / "part_docs")
    io.write_parquet(
        documents.select("doc_id", "source", "n_chars"),
        path,
        partition_by=["source"],
    )
    back = spark.read.parquet(path).filter(F.col("source") == "src3")
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # partition filter must prune at the scan, not post-filter
    assert "PartitionFilters" in plan and "src3" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert back.count() == documents.filter(F.col("source") == "src3").count()


def test_stream_sessionize_state_carries_across_batches(spark, tmp_path):
    """Production mode (flush_on_batch_end=False): a session split
    across two micro-batches must be stitched by the state store and
    emitted once with the combined event count."""
    import os

    import pandas as pd

    from job_post_similarity_spark.streaming import stream_ops

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    minute_ns = 60 * 10**9
    # batch 0: events at minutes 0, 1 — batch 1: minute 2 (continues the
    # session), then minute 500 (gap > 30min closes it)
    batches = [[0, 1], [2, 500]]
    for i, minutes in enumerate(batches):
        pd.DataFrame(
            {
                "event_id": [i * 10 + j for j in range(len(minutes))],
                "ts": [m * minute_ns for m in minutes],
                "user_id": [7] * len(minutes),
                "event_type": ["t"] * len(minutes),
                "value": [1.0] * len(minutes),
                "props": ["p"] * len(minutes),
            }
        ).to_parquet(os.path.join(src, f"events_{i}.parquet"))

    raw = (
        spark.readStream.schema(stream_ops.EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("path", src)
        .option("maxFilesPerTrigger", "1")
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    sessions = stream_ops._sessionize_stateful(
        raw, gap_minutes=30, flush_on_batch_end=False
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("t_carry")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        "SELECT user_id, session_start_us, session_end_us, n_events FROM t_carry"
    ).collect()
    # exactly one closed session: minutes 0-2, 3 events (2 from batch 0
    # + 1 from batch 1); the minute-500 session stays open in state
    assert len(out) == 1
    r = out[0]
    assert r["user_id"] == 7 and r["n_events"] == 3
    assert r["session_start_us"] == 0
    assert r["session_end_us"] == 2 * 60 * 10**6


def test_stream_near_dup_finds_cross_batch_pairs(spark, tmp_path):
    """Incremental MinHash: a duplicate arriving in a LATER batch than
    its original must be caught against the signature store."""
    import os

    import pandas as pd

    from job_post_similarity_spark.streaming import stream_near_dup_minhash

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten"
    # batch 0: originals; batch 1: near-copy of text_a + unrelated
    pd.DataFrame({"doc_id": [1, 2], "text": [text_a, text_b]}).to_parquet(
        os.path.join(src, "b0.parquet")
    )
    pd.DataFrame(
        {"doc_id": [3, 4], "text": [text_a, "totally different words here now"]}
    ).to_parquet(os.path.join(src, "b1.parquet"))

    pairs = stream_near_dup_minhash(
        spark, src, str(tmp_path / "store"),
        ngram=2, jaccard_threshold=0.5,
    )
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert (1, 3) in got          # cross-batch duplicate caught
    assert (1, 2) not in got      # unrelated pair not emitted


def test_stream_near_dup_auto_planner_knobs(spark, tmp_path):
    """bands='auto' provisions the signature store with the
    minhash_parameter_plan knobs (VERDICT r6 item 5): cross-batch
    planted dup still caught, the plan is persisted with the store,
    and a later batch with CONFLICTING explicit knobs is rejected
    (mixed signature widths cannot join)."""
    import json
    import os

    import pandas as pd
    import pytest

    from job_post_similarity_spark.operators.dedup import (
        minhash_parameter_plan,
    )
    from job_post_similarity_spark.streaming import stream_near_dup_minhash
    from job_post_similarity_spark.streaming.stream_ops import (
        incremental_near_dup_minhash_batch,
    )

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    pd.DataFrame(
        {"doc_id": [1, 2], "text": [text_a, "one two three four five six"]}
    ).to_parquet(os.path.join(src, "b0.parquet"))
    pd.DataFrame(
        {"doc_id": [3], "text": [text_a]}
    ).to_parquet(os.path.join(src, "b1.parquet"))

    store = str(tmp_path / "store_auto")
    pairs = stream_near_dup_minhash(
        spark, src, store, ngram=2, jaccard_threshold=0.5,
        bands="auto", planner_n_rows=100_000,
    )
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert (1, 3) in got

    # the persisted plan matches the planner's solution
    with open(os.path.join(store, "plan.json")) as fh:
        stored = json.load(fh)
    plan = minhash_parameter_plan(100_000, 0.5)
    assert stored == {
        "num_hashes": plan["num_hashes"],
        "num_bands": plan["num_bands"],
    }

    # a follow-up batch reuses the stored plan (auto, no n needed) —
    # same-mode append with the batch API: the planted dup of doc 2
    # is caught against the accumulated store
    b2 = spark.createDataFrame(
        [(5, "one two three four five six")], "doc_id long, text string"
    )
    out = incremental_near_dup_minhash_batch(
        b2, store, ngram=2, jaccard_threshold=0.5, bands="auto"
    )
    assert (2, 5) in {(r["id1"], r["id2"]) for r in out.collect()}

    # conflicting explicit knobs are rejected
    with pytest.raises(ValueError, match="provisioned"):
        incremental_near_dup_minhash_batch(
            b2, store, num_hashes=8, bands=2,
            ngram=2, jaccard_threshold=0.5,
        )

    # 'auto' without a target corpus size on a FRESH store is an error
    with pytest.raises(ValueError, match="planner_n_rows"):
        incremental_near_dup_minhash_batch(
            b2, str(tmp_path / "store_fresh"), bands="auto",
            ngram=2, jaccard_threshold=0.5,
        )

    # LEGACY store (signatures exist, no plan.json — pre-provisioning
    # vintage): 'auto' must refuse (the original widths are unknowable),
    # explicit knobs are ADOPTED as the store's pinned plan
    legacy = str(tmp_path / "store_legacy")
    os.makedirs(os.path.join(legacy, "sigs"))
    with pytest.raises(ValueError, match="before plan provisioning"):
        incremental_near_dup_minhash_batch(
            b2, legacy, bands="auto", ngram=2, jaccard_threshold=0.5,
        )
    from job_post_similarity_spark.streaming.stream_ops import (
        _resolve_store_plan,
    )

    assert _resolve_store_plan(legacy, 32, 16, 0.5, None, 0.95) == (32, 16)
    with open(os.path.join(legacy, "plan.json")) as fh:
        assert json.load(fh) == {"num_hashes": 32, "num_bands": 16}

    # ONE explicit int knob mixed with 'auto' must still be validated
    # against the stored plan (not silently overridden by it)
    stored_plan = _resolve_store_plan(store, None, "auto", 0.5, None, 0.95)
    with pytest.raises(ValueError, match="num_hashes"):
        _resolve_store_plan(
            store, stored_plan[0] + 32, "auto", 0.5, None, 0.95
        )
    # untouched library defaults (None sentinels) adopt the stored
    # auto plan instead of erroring
    assert (
        _resolve_store_plan(store, None, None, 0.5, None, 0.95)
        == stored_plan
    )
    # a matching explicit knob beside 'auto' passes
    assert (
        _resolve_store_plan(store, stored_plan[0], "auto", 0.5, None, 0.95)
        == stored_plan
    )


def test_stream_near_dup_empty_source_returns_empty_pairs(
    spark, tmp_path
):
    """A source directory with no files means foreachBatch never runs
    and pairs/ is never created — the read-back must return an empty
    pairs frame, not raise AnalysisException."""
    import os

    from job_post_similarity_spark.streaming import stream_near_dup_minhash
    from job_post_similarity_spark.streaming.stream_ops import (
        stream_fuzzy_decontaminate,
    )

    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    pairs = stream_near_dup_minhash(
        spark, src, str(tmp_path / "store_empty"), num_hashes=16, bands=4
    )
    assert pairs.count() == 0
    assert set(pairs.columns) == {"id1", "id2", "est_jaccard"}

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    fpairs = stream_fuzzy_decontaminate(
        spark, src, bench, str(tmp_path / "fstore_empty")
    )
    assert fpairs.count() == 0
    assert set(fpairs.columns) == {"corpus_id", "bench_id", "jaccard_ppm"}


def test_vector_search_class_api(spark, embeddings, tmp_path):
    """Reference VectorSearch surface: add/search/save/load/ntotal/
    remove, incl. the (distances, ids) array shim."""
    import numpy as np

    from job_post_similarity_spark.index_api import VectorSearch

    dim = len(embeddings.first()["embedding"])
    vs = VectorSearch(dim, "Flat", spark=spark)
    vs.add(embeddings)
    n = vs.ntotal
    assert n == embeddings.count()

    # DataFrame search
    queries = embeddings.filter(F.col("vec_id") < 3)
    out = vs.search(queries, k=2)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    assert all(r["rank"] <= 2 for r in rows)

    # array shim: self-queries must return distance ~0 at rank 1
    q = np.asarray(
        [r["embedding"] for r in embeddings.filter(F.col("vec_id") < 2).collect()]
    )
    dist, ids = vs.search_arrays(q, k=2)
    assert dist.shape == (2, 2) and ids.shape == (2, 2)
    assert dist[0, 0] < 1e-3 and ids[0, 0] == 0
    assert dist[1, 0] < 1e-3 and ids[1, 0] == 1

    # save / load roundtrip
    path = str(tmp_path / "vsidx")
    vs.save(path)
    vs2 = VectorSearch(dim, "Flat", spark=spark)
    vs2.load(path)
    assert vs2.ntotal == n

    # remove
    vs2.remove([0, 1])
    assert vs2.ntotal == n - 2


def test_vector_search_hnsw_search_arrays(spark):
    """The (distances, ids) array shim on the HNSW descent tier: its
    ids and L2 distances, sqrt(2 - 2·similarity), are search()'s rows
    for the same batch, and each self-query finds its own corpus row
    at rank 1 with distance ~0."""
    import numpy as np
    import pandas as pd

    from job_post_similarity_spark.index_api import VectorSearch

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 16))
    v = centers[np.arange(240) % 6] + 0.3 * rng.normal(size=(240, 16))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    vs = VectorSearch(16, "HNSW32", spark=spark)
    vs.exact_shortcut_rows = 0
    vs.add(
        spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": range(240), "embedding": [list(map(float, x)) for x in v]}
            ),
            "vec_id bigint, embedding array<double>",
        )
    )
    picks = list(range(0, 240, 24))
    q = v[picks]
    dist, ids = vs.search_arrays(q, k=4)
    assert dist.shape == ids.shape == (len(picks), 4)
    assert list(ids[:, 0]) == picks
    assert (dist[:, 0] < 5e-3).all()

    # search() over the batch search_arrays builds (ids -n..-1)
    qdf = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(-len(q), 0), "embedding": list(q)})
    )
    rows = vs.search(qdf, k=4).collect()
    assert len(rows) == dist.size
    for r in rows:
        at = (r["query_id"] + len(q), r["rank"] - 1)
        assert ids[at] == r["neighbor_id"]
        assert dist[at] == np.sqrt(max(0.0, 2.0 - 2.0 * r["similarity"]))


def test_vector_search_hnsw_routes_to_graph_tier(spark, embeddings):
    """index_description='HNSW*' dispatches VectorSearch.search to the
    layered-descent tier over the NN-Descent graph (reference switch
    app/vector_search.py:42-47, default HNSW32 at app/main.py:47).
    Fixture: the clustered derivation the graph gate uses (navigable
    regime); corpus-member queries must retrieve their exact top-1,
    before and after adds served through the per-row insert and the
    bulk refresh."""
    import math

    from job_post_similarity_spark.index_api import VectorSearch
    from job_post_similarity_spark.operators import knn

    n = embeddings.count()
    step = max(1, math.ceil(n / 32))
    c = (F.col("vec_id") / F.lit(step)).cast("int")
    arr = F.col("embedding").cast("array<double>")
    v2 = F.transform(
        arr,
        lambda x, i: x + F.when(i == c, F.lit(2.0)).otherwise(F.lit(0.0)),
    )
    norm = F.sqrt(F.aggregate(v2, F.lit(0.0), lambda a, x: a + x * x))
    emb = embeddings.select(
        "vec_id", F.transform(v2, lambda x: x / norm).alias("embedding")
    )
    dim = len(emb.first()["embedding"])

    vs = VectorSearch(dim, "HNSW32", spark=spark)
    vs.add(emb)
    # under the small-corpus threshold HNSW still serves EXACT (the
    # quality-preserving shortcut — approximate tiers only engage at
    # scale); drop the threshold to exercise the descent path here
    assert vs.ntotal < vs.exact_shortcut_rows
    vs.exact_shortcut_rows = 0
    qids = [i * (n // 10) for i in range(10)]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in vs.search(queries, k=1).collect()
    }
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in knn.knn_join(
            queries, "vec_id", "embedding", k=1,
            include_self=False, right=emb,
        ).collect()
    }
    assert got == exact

    # external (non-member) query ids take the queries_df path
    ext = queries.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    got_ext = {
        r["query_id"]: r["neighbor_id"]
        for r in vs.search(ext, k=1).collect()
    }
    # an external twin's nearest corpus member is the original itself
    assert got_ext == {q + 1_000_000: q for q in qids}

    # ---- incremental add at the HNSW tier: the built epoch is
    # retired as a WARM-START seed instead of a cold invalidate — and
    # searches after the add still serve correctly
    first = vs._epoch
    old_graph = first.graph
    assert old_graph is not None
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    vs.add(twins)
    assert vs._epoch.graph is None and vs._retired is first
    assert first.graph is old_graph and first.corpus is not None
    # 5 rows over a ~500-row corpus is under insert_add_fraction, so
    # this search serves through the EXACT per-row graph_insert path
    assert vs._pending is not None
    got2 = {
        r["query_id"]: r["neighbor_id"]
        for r in vs.search(emb.filter(F.col("vec_id") < 5), k=1)
        .collect()
    }
    # after the add, each original's top-1 is its bit-identical twin
    # (dot exactly 1.0 beats every natural neighbor, and the twin is
    # the only exact match with self excluded)
    assert got2 == {q: q + 2_000_000 for q in range(5)}
    assert vs._retired is None and vs._epoch.graph is not None
    assert vs._pending is None
    assert vs._epoch.graph_params["built"] == "insert"
    assert vs._epoch.hier_meta.get("built") == "insert"

    # same add with the insert path disabled exercises the bulk warm
    # REFRESH branch and must serve the same answers
    more = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10)).select(
        (F.col("vec_id") + 3_000_000).alias("vec_id"), "embedding"
    )
    vs.insert_add_fraction = 0.0
    vs.add(more)
    got3 = {
        r["query_id"]: r["neighbor_id"]
        for r in vs.search(
            emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10)),
            k=1,
        ).collect()
    }
    assert got3 == {q: q + 3_000_000 for q in range(5, 10)}
    # the refreshed layer 0 carries the per-layer hierarchy repair
    assert vs._retired is None and vs._pending is None
    assert vs._epoch.graph_params["built"] == "refresh"
    assert vs._epoch.hier_meta.get("built") == "insert"


def test_opq_descriptor_parse_and_join_routing():
    """Faiss 'OPQ…' descriptor surface (VERDICT r9 item 5): the parse
    helper reads the segment family (per-segment, so 'opq16' never
    misreads as 'pq16'), and the pair-join dispatch follows the inner
    segment — rotation never changes cosine values."""
    import functools

    from job_post_similarity_spark.operators import ann

    assert ann.parse_opq_description("OPQ16,IVF100,PQ8") == (8, 100)
    assert ann.parse_opq_description("OPQ16,PQ8") == (8, None)
    assert ann.parse_opq_description("OPQ4") == (4, None)
    assert ann.parse_opq_description(" opq32 , ivf64 ") == (32, 64)
    with pytest.raises(ValueError):
        ann.parse_opq_description("IVF100,PQ8")

    f = ann.index_for_description("OPQ16,IVF100,PQ8")
    assert isinstance(f, functools.partial)
    assert f.func is ann.ivf_similarity_join
    assert f.keywords == {"n_centroids": 100}
    assert (
        ann.index_for_description("OPQ16,PQ8")
        is ann.srp_lsh_similarity_join
    )


def test_vector_search_opq_descriptor_serves_planted_twins(
    spark, embeddings
):
    """'OPQ<m>[,IVF<c>],PQ<m>' descriptors route VectorSearch.search
    to the rotated ADC tier (VERDICT r9 item 5): the trained
    (rotation, codebooks) + encoded relation are memoized per corpus,
    a bit-identical planted twin is retrieved (rotation-invariant PQ
    planted argument), and any mutation drops the memo."""
    from job_post_similarity_spark.index_api import VectorSearch
    from job_post_similarity_spark.operators import knn

    emb = embeddings.select("vec_id", "embedding")
    plant = 1_000_000
    twins = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + plant).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(twins)
    queries = emb.filter(F.col("vec_id") < 20)

    for desc, kind in (("OPQ4,PQ4", "flat"), ("OPQ4,IVF8,PQ4", "ivf")):
        vs = VectorSearch(64, desc, spark=spark)
        vs.add(corpus)
        vs.exact_shortcut_rows = 0
        got = vs.search(queries, k=4)
        assert {f.name for f in got.schema.fields} >= {
            "query_id", "neighbor_id", "similarity", "rank",
        }
        rows = got.collect()
        assert vs._epoch.opq is not None and vs._epoch.opq[0] == kind
        found = {
            r["query_id"]
            for r in rows
            if r["neighbor_id"] == r["query_id"] + plant
        }
        assert len(found) >= 16, (desc, sorted(found))
        # memo survives a second batch, dies on mutation
        memo = vs._epoch.opq
        vs.search(queries.limit(3), k=2).collect()
        assert vs._epoch.opq is memo
        vs.remove([0])
        assert vs._epoch.opq is None

    # small corpora keep the exact shortcut regardless of descriptor
    vs = VectorSearch(64, "OPQ4,PQ4", spark=spark)
    vs.add(corpus)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in vs.search(queries, k=1).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in knn.knn_join(
            queries, "vec_id", "embedding", k=1,
            include_self=False, right=corpus,
        ).collect()
    }
    assert got == want and vs._epoch.opq is None


def test_vector_search_saves_and_reloads_opq_artifact(
    spark, embeddings, tmp_path
):
    """The trained OPQ tier persists through save/load (sibling
    ``__opq`` artifact: rotation + codebooks npz, encoded code table
    parquet): a reloaded index serves the same answers WITHOUT
    retraining or re-encoding, a row-count or subquantizer mismatch
    refuses the artifact, and a save from a non-OPQ instance removes
    a stale sibling."""
    from job_post_similarity_spark.index_api import VectorSearch

    emb = embeddings.select("vec_id", "embedding")
    vs = VectorSearch(64, "OPQ4,PQ4", spark=spark)
    vs.add(emb)
    vs.exact_shortcut_rows = 0
    queries = emb.filter(F.col("vec_id") < 10)
    want = sorted(map(tuple, vs.search(queries, k=3).collect()))
    assert vs._epoch.opq is not None and vs._epoch.opq[0] == "flat"
    path = str(tmp_path / "opq_idx")
    vs.save(path)

    vs2 = VectorSearch(64, "OPQ4,PQ4", spark=spark)
    vs2.load(path)
    vs2.exact_shortcut_rows = 0
    # model + codes adopted at load — no retrain before serving
    assert vs2._epoch.opq is not None and vs2._epoch.opq[0] == "flat"
    got = sorted(map(tuple, vs2.search(queries, k=3).collect()))
    assert got == want

    # descriptor-m mismatch refuses (codes are shaped by m)
    vs3 = VectorSearch(64, "OPQ8,PQ8", spark=spark)
    vs3.load(path)
    assert vs3._epoch.opq is None

    # a save from an instance without the OPQ memo drops the sibling
    vs4 = VectorSearch(64, "OPQ4,PQ4", spark=spark)
    vs4.add(emb)
    vs4.save(path)
    vs5 = VectorSearch(64, "OPQ4,PQ4", spark=spark)
    vs5.load(path)
    assert vs5._epoch.opq is None


def test_vector_search_saves_and_reloads_graph_artifact(
    spark, embeddings, tmp_path
):
    """save() at the HNSW tier persists the built graph and hierarchy
    beside the vectors; load() adopts them when the row count
    matches, so the reloaded index serves without a rebuild (the
    reference persists the trained Faiss structure, not just raw
    vectors — app/vector_search.py:207-239)."""
    import math

    from job_post_similarity_spark.index_api import VectorSearch

    n = embeddings.count()
    step = max(1, math.ceil(n / 32))
    c = (F.col("vec_id") / F.lit(step)).cast("int")
    arr = F.col("embedding").cast("array<double>")
    v2 = F.transform(
        arr,
        lambda x, i: x + F.when(i == c, F.lit(2.0)).otherwise(F.lit(0.0)),
    )
    norm = F.sqrt(F.aggregate(v2, F.lit(0.0), lambda a, x: a + x * x))
    emb = embeddings.select(
        "vec_id", F.transform(v2, lambda x: x / norm).alias("embedding")
    )
    dim = len(emb.first()["embedding"])

    vs = VectorSearch(dim, "HNSW32", spark=spark)
    vs.add(emb)
    vs.exact_shortcut_rows = 0
    queries = emb.filter(F.col("vec_id") < 5)
    before = {
        (r["query_id"], r["neighbor_id"])
        for r in vs.search(queries, k=1).collect()
    }
    assert vs._epoch.graph is not None
    path = str(tmp_path / "vs_index")
    vs.save(path)

    vs2 = VectorSearch(dim, "HNSW32", spark=spark)
    vs2.load(path)
    vs2.exact_shortcut_rows = 0
    # graph + hierarchy adopted at load time — no rebuild needed
    # before serving
    loaded = vs2._epoch
    assert loaded.graph is not None and loaded.hier is not None
    hier = loaded.hier
    after = {
        (r["query_id"], r["neighbor_id"])
        for r in vs2.search(queries, k=1).collect()
    }
    assert after == before
    assert vs2._epoch is loaded and loaded.hier is hier

    # a vector-count mismatch refuses the stale artifact
    vs3 = VectorSearch(dim, "HNSW32", spark=spark)
    emb.filter(F.col("vec_id") < n - 10).write.mode("overwrite").parquet(
        str(tmp_path / "vs_index2")
    )
    import shutil

    shutil.copytree(path + "__graph", str(tmp_path / "vs_index2__graph"))
    vs3.load(str(tmp_path / "vs_index2"))
    assert vs3._epoch.graph is None

    # the saved meta records the ACTUAL build provenance, and a
    # reloaded index adopts it (so a re-save round-trips it)
    import json
    import os

    with open(os.path.join(path + "__graph", "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["built"] == "cold" and meta["k"] == 8
    assert vs2._epoch.graph_params["built"] == "cold"

    # overwriting the SAME path with a different same-count corpus
    # (graph never built) must drop the old sibling graph — load()
    # adopts any count-matching artifact, and the old corpus's edge
    # lists would silently serve for the wrong vectors
    other = emb.select(
        "vec_id",
        F.transform(
            F.reverse(F.col("embedding")), lambda x: x
        ).alias("embedding"),
    )
    vs4 = VectorSearch(dim, "HNSW32", spark=spark)
    vs4.add(other)  # no search -> no graph built
    vs4.save(path)
    assert not os.path.exists(path + "__graph")
    vs5 = VectorSearch(dim, "HNSW32", spark=spark)
    vs5.load(path)
    assert vs5._epoch.graph is None


def test_compact_parquet_merges_small_files(spark, documents, tmp_path):
    import glob
    import os

    from job_post_similarity_spark.sources.io import compact_parquet

    src = str(tmp_path / "frag")
    documents.select("doc_id", "text").repartition(16).write.parquet(src)
    assert len(glob.glob(os.path.join(src, "*.parquet"))) >= 16
    out = compact_parquet(spark, src, target_file_mb=128)
    assert len(glob.glob(os.path.join(out, "*.parquet"))) == 1
    assert spark.read.parquet(out).count() == documents.count()


def test_summary_stats_approx_within_tolerance(spark, sf_dir):
    from job_post_similarity_spark.operators import profiling
    from job_post_similarity_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = profiling.summary_stats(li, "l_extendedprice").first()
    approx = profiling.summary_stats(li, "l_extendedprice", approx=True).first()
    assert approx["cnt"] == exact["cnt"]
    for q in ("p25", "p50", "p75"):
        assert abs(approx[q] - exact[q]) / exact[q] < 0.01


def test_stream_windowed_append_late_data_semantics(spark, tmp_path):
    """Append-mode watermarked window: a window is emitted once the
    watermark passes it, and an event arriving AFTER the watermark
    passed its window is dropped — the late-data contract."""
    import os

    import pandas as pd

    from job_post_similarity_spark.streaming import stream_ops

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    hour_ns = 3600 * 10**9

    def write_batch(i, hours):
        pd.DataFrame(
            {
                "event_id": [i * 10 + j for j in range(len(hours))],
                "ts": [int(h * hour_ns) for h in hours],
                "user_id": [1] * len(hours),
                "event_type": ["t"] * len(hours),
                "value": [1.0] * len(hours),
                "props": ["p"] * len(hours),
            }
        ).to_parquet(os.path.join(src, f"b{i}.parquet"))

    write_batch(0, [0.1, 0.2])       # window [0,1)
    write_batch(1, [6.0])            # advances watermark to 4h (2h delay)

    raw = (
        spark.readStream.schema(stream_ops.EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("path", src)
        .option("maxFilesPerTrigger", "1")
        .load()
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        raw.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "cnt")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()          # watermark now 4h; [0,1) emitted
        write_batch(2, [0.5])            # late: watermark already past [0,1)
        q.processAllAvailable()
    finally:
        q.stop()
    out = {r["ws"].hour: r["cnt"] for r in spark.sql("SELECT * FROM t_late").collect()}
    # hour-0 window emitted with the ON-TIME count only (2), late event
    # dropped; hour-6 window still open (not emitted)
    assert out.get(0) == 2
    assert 6 not in out


def test_get_embedder_falls_back_without_model_lib(spark):
    """model_name requested but sentence-transformers absent -> the
    deterministic hashing tier must be returned (import-gated V1)."""
    import job_post_similarity_spark.functions.embed as E2

    emb = E2.get_embedder(dim=16, seed=1, model_name="all-MiniLM-L6-v2")
    df = spark.createDataFrame([("hello world",)], "text string")
    out = df.select(emb(F.col("text")).alias("e")).first()
    assert len(out["e"]) == 16


def test_annotate_one_pass(documents):
    from job_post_similarity_spark.operators import text_analysis

    out = text_analysis.annotate(documents.limit(20))
    rows = out.collect()
    assert {"n_tokens", "quality", "lang_pred", "fingerprint"} <= set(out.columns)
    assert all(r["n_tokens"] > 0 and 0 <= r["quality"] <= 1 for r in rows)


def test_evaluate_cli_main_smoke(spark, documents, embeddings, tmp_path):
    import os

    from job_post_similarity_spark import evaluate as evmod

    emb_path = str(tmp_path / "emb_in")
    meta_path = str(tmp_path / "meta_in")
    embeddings.write.parquet(emb_path)
    documents.select(F.col("doc_id").alias("vec_id"), "source").write.parquet(
        meta_path
    )
    out = str(tmp_path / "eval_out")
    assert evmod.main([emb_path, meta_path, out]) == 0
    assert os.path.exists(os.path.join(out, "lookup_report.md"))


def test_quantile_profile_exact_and_approx_tiers(spark, sf_dir):
    """Grouped percentile profile: the approx (t-digest) tier tracks
    the exact tier within 2% on every percentile column, and the disc
    tier returns values that exist in the data at >= the cume_dist
    threshold."""
    from job_post_similarity_spark.operators import profiling
    from job_post_similarity_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in profiling.quantile_profile(
            li, "l_returnflag", "l_extendedprice"
        ).collect()
    }
    approx = {
        r["l_returnflag"]: r
        for r in profiling.quantile_profile(
            li, "l_returnflag", "l_extendedprice", approx=True
        ).collect()
    }
    assert exact.keys() == approx.keys()
    for flag, er in exact.items():
        for col in ("p25", "p50", "p75", "p90", "p99"):
            assert abs(approx[flag][col] - er[col]) / er[col] < 0.02

    ev = load_table(spark, sf_dir, "events")
    disc = profiling.quantile_disc(ev, "event_type", "value").collect()
    vals_by_type = {
        r["event_type"]: sorted(x["value"] for x in ev.collect()
                                if x["event_type"] == r["event_type"])
        for r in disc
    }
    for r in disc:
        vals = vals_by_type[r["event_type"]]
        n = len(vals)
        for p, col in ((0.25, "p25_disc"), (0.5, "p50_disc"), (0.99, "p99_disc")):
            assert r[col] in vals
            # smallest value whose cume_dist reaches p
            import math
            idx = vals.index(r[col])
            assert (idx + 1) / n >= p or vals[idx] == vals[-1]


def _tiny_png(width=1, height=1, value=128) -> bytes:
    """Hand-assembled minimal grayscale PNG — no Pillow needed to
    BUILD the fixture, only to decode it."""
    import struct
    import zlib

    def chunk(tag, data):
        c = tag + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes([value] * width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_auto_decoder_falls_back_without_pil(documents):
    """In a container with no Pillow, decoder='auto' must produce
    exactly the stub's output (per-row fallback, same plan shape)."""
    from job_post_similarity_spark.operators import multimodal

    media = multimodal.attach_binary_payload(documents.limit(30))
    stub = multimodal.decode_features(media, decoder="stub").collect()
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if has_pil:
        pytest.skip("Pillow present — fallback-equality check is for bare containers")
    auto = multimodal.decode_features(media, decoder="auto").collect()
    key = lambda rows: sorted(
        (r["doc_id"], r["width"], r["height"], tuple(r["feature"])) for r in rows
    )
    assert key(stub) == key(auto)


def test_multimodal_decoder_validation(documents):
    from job_post_similarity_spark.operators import multimodal

    media = multimodal.attach_binary_payload(documents.limit(1))
    with pytest.raises(ValueError):
        multimodal.decode_features(media, decoder="bogus")
    with pytest.raises(ValueError):
        multimodal.resize_images(media, decoder="bogus")


@pytest.mark.extras
def test_multimodal_pil_real_decode(spark):
    """REAL Pillow decode over a hand-assembled 1x1 PNG (skips where
    Pillow is absent): width/height come from the image header, the
    feature from actual pixel values."""
    pytest.importorskip(
        "PIL",
        reason="Pillow absent — extras lane: pip install -r "
        "requirements-extras.txt && pytest -m extras",
    )
    import pandas as pd

    from job_post_similarity_spark.operators import multimodal

    png = _tiny_png(value=200)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "payload": [png],
                "media_type": ["image"],
                "n_bytes": [len(png)],
            }
        )
    )
    row = multimodal.decode_features(df, decoder="pil").collect()[0]
    assert (row["width"], row["height"]) == (1, 1)
    assert abs(row["feature"][0] - 200.0) < 1e-6
    resized = multimodal.resize_images(df, 4, 4, decoder="pil").collect()[0]
    assert len(resized["resized"]) == 16


def test_stream_near_dup_srp_cross_batch_and_batch_parity(spark, tmp_path):
    """Incremental SRP (embedding tier): a near-identical vector
    arriving in a LATER batch is caught against the signature store,
    and the full emitted pair set equals the batch
    srp_lsh_similarity_join over the union of all batches (candidate
    sets are signature-deterministic, so ingest order cannot change
    WHAT is found)."""
    import os

    import numpy as np
    import pandas as pd

    from job_post_similarity_spark.operators.ann import srp_lsh_similarity_join
    from job_post_similarity_spark.streaming import stream_near_dup_srp

    rng = np.random.default_rng(11)
    base = rng.standard_normal((6, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    near = base[0] + 0.01 * rng.standard_normal(16)
    near /= np.linalg.norm(near)

    src = str(tmp_path / "vec_src")
    os.makedirs(src)
    pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [r.astype(np.float32) for r in base[:3]]}
    ).to_parquet(os.path.join(src, "b0.parquet"))
    pd.DataFrame(
        {
            "vec_id": [3, 4, 5],
            "embedding": [near.astype(np.float32)]
            + [r.astype(np.float32) for r in base[3:5]],
        }
    ).to_parquet(os.path.join(src, "b1.parquet"))

    pairs = stream_near_dup_srp(
        spark, src, str(tmp_path / "srp_store"), dim=16, threshold=0.9
    )
    got = {
        (r["id1"], r["id2"], r["similarity"]) for r in pairs.collect()
    }
    assert any(p[:2] == (0, 3) for p in got)  # cross-batch near-dup

    union = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": list(range(6)),
                "embedding": [r.astype(np.float32) for r in base[:3]]
                + [near.astype(np.float32)]
                + [r.astype(np.float32) for r in base[3:5]],
            }
        )
    )
    batch = {
        (r["id1"], r["id2"], r["similarity"])
        for r in srp_lsh_similarity_join(
            union, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    assert got == batch


def test_write_parquet_dynamic_partition_overwrite(spark, tmp_path):
    """dynamic_overwrite replaces ONLY the partitions present in the
    incoming frame; static overwrite (the default) drops the rest."""
    import pandas as pd

    from job_post_similarity_spark.sources import io

    path = str(tmp_path / "lake")
    full = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3, 4], "part": ["a", "a", "b", "c"]})
    )
    io.write_parquet(full, path, partition_by=["part"])
    # incremental update touching only partition 'a'
    update = spark.createDataFrame(
        pd.DataFrame({"k": [10, 11], "part": ["a", "a"]})
    )
    io.write_parquet(
        update, path, partition_by=["part"], dynamic_overwrite=True
    )
    got = {
        (r["k"], r["part"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {(10, "a"), (11, "a"), (3, "b"), (4, "c")}
    # static overwrite semantics: everything else gone
    io.write_parquet(update, path, partition_by=["part"])
    got2 = {(r["k"], r["part"]) for r in spark.read.parquet(path).collect()}
    assert got2 == {(10, "a"), (11, "a")}


def test_keep_latest_upsert_semantics(spark):
    """Apply-changes shape: union snapshot + change stream, keep the
    latest version per key (deterministic tie-break)."""
    import pandas as pd

    from job_post_similarity_spark.operators.preprocess import keep_latest

    snapshot = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 2], "v": ["old1", "old2"], "ver": [1, 1], "seq": [10, 11]}
        )
    )
    changes = spark.createDataFrame(
        pd.DataFrame(
            {"k": [2, 3, 2], "v": ["new2", "new3", "tie2"], "ver": [2, 1, 2],
             "seq": [12, 13, 14]}
        )
    )
    merged = keep_latest(
        snapshot.unionByName(changes),
        ["k"],
        [F.col("ver").desc(), F.col("seq").desc()],
    )
    got = {r["k"]: r["v"] for r in merged.collect()}
    # key 2: ver 2 twice -> seq tie-break picks the later change
    assert got == {1: "old1", 2: "tie2", 3: "new3"}


def test_stream_sliding_window_agg(spark, sf_dir):
    """Hopping window: each event lands in window/slide windows, so
    summed counts across windows = window/slide x tumbling total."""
    from job_post_similarity_spark.streaming import stream_windowed_agg

    tumb = stream_windowed_agg(spark, sf_dir, name="t_tumb2")
    hop = stream_windowed_agg(
        spark, sf_dir, window="1 hour", slide="30 minutes", name="t_hop"
    )
    total_tumb = sum(r["cnt"] for r in tumb.collect())
    total_hop = sum(r["cnt"] for r in hop.collect())
    assert total_hop == 2 * total_tumb
    assert hop.count() > tumb.count()


def test_merge_upsert_semantics(spark):
    """MERGE: matched rows update, new keys insert, tombstones delete,
    tombstones for absent keys are no-ops."""
    from job_post_similarity_spark.operators.cdc import merge_upsert

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    source = spark.createDataFrame(
        [
            (2, "B", False),   # update
            (3, None, True),   # delete
            (4, "d", False),   # insert
            (9, None, True),   # tombstone for absent key: no-op
        ],
        "k long, v string, is_del boolean",
    )
    out = sorted(
        tuple(r) for r in merge_upsert(target, source, "k", "is_del").collect()
    )
    assert out == [(1, "a"), (2, "B"), (4, "d")]

    # without a delete column every source row is an upsert
    out2 = sorted(
        tuple(r)
        for r in merge_upsert(
            target, source.drop("is_del").filter("v is not null"), "k"
        ).collect()
    )
    assert out2 == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]


def test_scd2_build_runs_and_ranges(spark):
    """Consecutive equal attrs collapse into one validity range;
    valid_to chains to the next run's start; last run is current;
    equal timestamps resolve by the tiebreak column."""
    from job_post_similarity_spark.operators.cdc import scd2_build

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        (1, "x", ts(0), 10),
        (1, "x", ts(5), 11),   # same run
        (1, "y", ts(9), 12),   # new run
        (1, "x", ts(20), 13),  # x again -> third run, not merged with first
        (2, "a", ts(0), 14),
        (2, "b", ts(0), 15),   # same ts: event_id orders a before b
    ]
    df = spark.createDataFrame(
        rows, "user_id long, attr string, ts timestamp, event_id long"
    )
    out = [
        tuple(r)
        for r in scd2_build(df, "user_id", "attr", "ts", "event_id")
        .orderBy("user_id", "valid_from_us")
        .collect()
    ]

    def us(m):
        return int(ts(m).timestamp() * 1_000_000)

    assert out == [
        (1, "x", us(0), us(9), False, 2),
        (1, "y", us(9), us(20), False, 1),
        (1, "x", us(20), None, True, 1),
        (2, "a", us(0), us(0), False, 1),
        (2, "b", us(0), None, True, 1),
    ]


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema-evolution read: two parquet batches with different
    column sets union under mergeSchema=true (late columns null-fill
    for old files) — the additive-evolution contract a long-lived
    lake table needs. Default reads keep the cheap single-footer
    behavior; evolution is opt-in per read."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.range(0, 5).select(
        F.col("id"), F.lit("v1").alias("tag")
    ).write.parquet(p + "/batch=1")
    spark.range(5, 8).select(
        F.col("id"), F.lit("v2").alias("tag"),
        (F.col("id") * 2).alias("extra"),
    ).write.parquet(p + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "tag", "extra", "batch"}
    rows = {r["id"]: (r["tag"], r["extra"]) for r in merged.collect()}
    assert rows[0] == ("v1", None)      # old files null-fill
    assert rows[7] == ("v2", 14)
    assert merged.count() == 8


def test_observed_stage_metrics_ride_the_action(spark, sf_dir):
    from pyspark.sql import functions as F

    from job_post_similarity_spark.sources.io import (
        load_table,
        observed_stage,
    )

    docs = load_table(spark, sf_dir, "documents")
    df, obs = observed_stage(
        docs,
        "ingest",
        {
            "n_null_text": F.count(F.when(F.col("text").isNull(), 1)),
            "chars_total": F.sum("n_chars"),
        },
    )
    kept = df.filter(F.col("n_chars") > 0).count()
    got = obs.get
    assert got["n_rows"] == docs.count()
    assert got["n_null_text"] == 0
    assert got["chars_total"] == sum(
        r["n_chars"] for r in docs.select("n_chars").collect()
    )
    assert kept <= got["n_rows"]


def test_stream_ohlc_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from job_post_similarity_spark.operators.windows import ohlc_bars
    from job_post_similarity_spark.sources.io import load_table
    from job_post_similarity_spark.streaming.stream_ops import (
        stream_ohlc_bars,
    )

    got = {
        (r["event_type"], str(r["bar_ts"])): (
            r["open"], r["high"], r["low"], r["close"], r["n"]
        )
        for r in stream_ohlc_bars(
            spark, sf_dir, name="t_stream_ohlc"
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    expect = {
        (r["event_type"], str(r["bar_ts"])): (
            r["open"], r["high"], r["low"], r["close"], r["n"]
        )
        for r in ohlc_bars(
            ev, key_col="event_type", bucket="1 hour"
        ).collect()
    }
    assert got == expect


def test_incremental_minhash_batch_cross_batch_dup(spark, tmp_path):
    """Crawl-refresh mode: batch 2 contains a near-dup of a batch-1
    doc — the second call must find the CROSS-BATCH pair against the
    persisted store, plus batch-local pairs, and the store must
    accumulate."""
    from job_post_similarity_spark.streaming.stream_ops import (
        incremental_near_dup_minhash_batch,
    )

    store = str(tmp_path / "inc_store")
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, "totally different words entirely here now")],
        "doc_id long, text string",
    )
    out1 = incremental_near_dup_minhash_batch(b1, store)
    assert out1.count() == 0
    b2 = spark.createDataFrame(
        [(3, base + " extra"), (4, "unrelated content again")],
        "doc_id long, text string",
    )
    out2 = incremental_near_dup_minhash_batch(b2, store)
    pairs = {(r["id1"], r["id2"]) for r in out2.collect()}
    assert (1, 3) in pairs
    # third call with another twin finds pairs against BOTH batches
    b3 = spark.createDataFrame(
        [(5, base + " more")], "doc_id long, text string"
    )
    out3 = incremental_near_dup_minhash_batch(b3, store)
    pairs3 = {(r["id1"], r["id2"]) for r in out3.collect()}
    assert (1, 5) in pairs3 and (3, 5) in pairs3 and (1, 3) in pairs3


def test_xml_roundtrip(spark, tmp_path):
    """Native Spark 4 XML source/sink: schema-declared read returns
    exactly what the writer emitted (row/root tags honored)."""
    from pyspark.sql import types as T

    from job_post_similarity_spark.sources.io import read_xml, write_xml

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0)],
        "id long, name string, score double",
    )
    path = str(tmp_path / "xmlout")
    write_xml(df, path, row_tag="rec", root_tag="recs")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    back = read_xml(spark, path, row_tag="rec", schema=schema)
    assert {tuple(r) for r in back.collect()} == {
        (1, "alpha", 1.5),
        (2, "beta", -2.0),
    }


def test_sql_parameterized_matches_literal(spark, sf_dir):
    """Named-parameter binding must produce the same result (and no
    literal-injection surface) as inlined literals."""
    import __spark_entry__ as entrymod

    got = {
        tuple(r)
        for r in entrymod.sql_parameterized_revenue(spark, sf_dir).collect()
    }
    lit = {
        tuple(r)
        for r in spark.sql(
            """
            SELECT c_mktsegment, count(*) AS order_cnt,
                   ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                              AS DOUBLE), 4) AS revenue
            FROM vp_orders JOIN vp_customer ON o_custkey = c_custkey
            WHERE c_mktsegment <> 'MACHINERY' AND o_totalprice >= 1000.0
            GROUP BY c_mktsegment ORDER BY c_mktsegment
            """
        ).collect()
    }
    assert got == lit


def test_python_streaming_data_source_stream_equals_batch(spark):
    """The PySpark 4 SimpleDataSourceStreamReader face of the custom
    source: micro-batched rows over checkpointable offsets must equal
    the batch read of the same id range (rows are a pure function of
    doc_id — the replayability contract)."""
    from job_post_similarity_spark.sources.pyds import (
        SyntheticDocsDataSource,
    )

    spark.dataSource.register(SyntheticDocsDataSource)
    sdf = (
        spark.readStream.format("synthetic_docs")
        .option("rows_per_batch", 7)
        .option("max_rows", 30)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("pyds_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["doc_id"], r["text"])
        for r in spark.sql("select * from pyds_stream").collect()
    }
    want = {
        (r["doc_id"], r["text"])
        for r in spark.read.format("synthetic_docs")
        .option("rows", 30)
        .load()
        .collect()
    }
    assert got == want and len(got) == 30


def test_stream_fuzzy_decontaminate_equals_batch(spark, tmp_path):
    """Continuous-ingest fuzzy decontamination: corpus docs arriving
    across micro-batches are checked against the STATIC benchmark —
    the accumulated pairs equal the batch cross operator over the
    batch union (every doc lands in exactly one micro-batch and
    pairs are per-(corpus, bench))."""
    import os

    import pandas as pd

    from job_post_similarity_spark.operators import dedup as D
    from job_post_similarity_spark.streaming.stream_ops import (
        stream_fuzzy_decontaminate,
    )

    bench_text = (
        "the quick brown fox jumps over the lazy dog and runs for "
        "a while with great energy in the morning light"
    )
    bench = spark.createDataFrame(
        [(101, bench_text)], "doc_id long, text string"
    )
    src = str(tmp_path / "corpus_src")
    os.makedirs(src)
    # batch 0: a near-dup of the benchmark + a clean doc
    pd.DataFrame(
        {"doc_id": [10, 14],
         "text": [bench_text + " again",
                  "a completely different story about the sea and the "
                  "wind told in the evening for everyone to hear"]}
    ).to_parquet(os.path.join(src, "b0.parquet"))
    # batch 1: another near-dup arriving later
    pd.DataFrame(
        {"doc_id": [20], "text": ["intro words " + bench_text]}
    ).to_parquet(os.path.join(src, "b1.parquet"))

    got = stream_fuzzy_decontaminate(
        spark, src, bench, str(tmp_path / "fdecon_store"),
        threshold_ppm=500_000,
    )
    got_set = {
        (r["corpus_id"], r["bench_id"], r["jaccard_ppm"])
        for r in got.collect()
    }
    batch_union = spark.read.parquet(src)
    want = {
        (r["corpus_id"], r["bench_id"], r["jaccard_ppm"])
        for r in D.cross_near_dup_pairs_oracle_tier(
            batch_union, bench, threshold_ppm=500_000
        ).collect()
    }
    assert got_set == want
    assert {c for c, _, _ in got_set} == {10, 20}  # 14 stays clean


def test_vector_search_hierarchy_dispatch_at_scale_threshold(spark, embeddings):
    """From exact_shortcut_rows on, the HNSW tier serves by LAYERED
    DESCENT (ann.hnsw_topk_search over upper layers built on the
    memoized layer-0 graph) — same exact top-1 on the clustered
    fixture, hierarchy memoized across batches, and ANY mutation
    invalidates it (add() retires it with the warm graph)."""
    import math

    from job_post_similarity_spark.index_api import VectorSearch
    from job_post_similarity_spark.operators import knn

    n = embeddings.count()
    step = max(1, math.ceil(n / 32))
    c = (F.col("vec_id") / F.lit(step)).cast("int")
    arr = F.col("embedding").cast("array<double>")
    v2 = F.transform(
        arr,
        lambda x, i: x + F.when(i == c, F.lit(2.0)).otherwise(F.lit(0.0)),
    )
    norm = F.sqrt(F.aggregate(v2, F.lit(0.0), lambda a, x: a + x * x))
    emb = embeddings.select(
        "vec_id", F.transform(v2, lambda x: x / norm).alias("embedding")
    )
    dim = len(emb.first()["embedding"])

    vs = VectorSearch(dim, "HNSW32", spark=spark)
    vs.add(emb)
    vs.exact_shortcut_rows = 0
    qids = [i * (n // 10) for i in range(10)]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in vs.search(queries, k=1).collect()
    }
    assert vs._epoch.hier is not None and vs._epoch.hier_meta is not None
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in knn.knn_join(
            queries, "vec_id", "embedding", k=1,
            include_self=False, right=emb,
        ).collect()
    }
    assert got == exact

    hier_first = vs._epoch.hier
    vs.search(queries, k=1).collect()
    assert vs._epoch.hier is hier_first  # memoized across batches

    # append RETIRES the hierarchy instead of dropping it: the next
    # search repairs it per-layer (ann.hnsw_hierarchy_insert — layer 0
    # adopts the insert/refresh-maintained graph, upper layers pay
    # only for rows whose md5 level reaches them) and serves the
    # union correctly — add-then-search parity at the descent tier
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    vs.add(twins)
    assert vs._epoch.hier is None and vs._retired.hier is hier_first
    got2 = {
        r["query_id"]: r["neighbor_id"]
        for r in vs.search(
            emb.filter(F.col("vec_id") < 5), k=1
        ).collect()
    }
    assert vs._epoch.hier is not None and vs._epoch.hier is not hier_first
    assert vs._retired is None
    assert vs._epoch.hier_meta.get("built") == "insert"
    # each original's top-1 is now its bit-identical twin — the
    # repaired hierarchy serves the appended rows exactly
    assert got2 == {q: q + 10_000_000 for q in range(5)}


def test_vector_search_snapshot_lifetime(spark, tmp_path):
    """The descent tier's serving state is one driver-held HnswSnapshot
    per index epoch, released (arrays dropped; a broadcast, if one
    was made, unpersisted, never destroyed) only when the index
    mutates: a frame search() returned before an
    add or a remove still collects the same rows after it, and across
    search → add → add → search → remove → search the JVM's persisted
    RDD set never grows past what the first search left — no serving
    table is localCheckpointed per epoch. The second add, with no
    search between, keeps the first retired epoch as the warm seed,
    and the insert path serves both batches' planted twins. A load
    releases the epoch it replaces and serves the saved rows.
    Counted after a forced Python + JVM GC, so only relations
    something still holds are counted, not builder intermediates
    awaiting the ContextCleaner."""
    import gc
    import time

    import numpy as np
    import pandas as pd

    from job_post_similarity_spark.index_api import VectorSearch
    from job_post_similarity_spark.operators.ann import HnswSnapshot

    sc = spark.sparkContext
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(6, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v = np.concatenate([c + 0.05 * rng.normal(size=(40, 16)) for c in centers])
    v /= np.linalg.norm(v, axis=1, keepdims=True)

    def frame(ids, vecs):
        return spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": list(ids), "embedding": [list(map(float, x)) for x in vecs]}
            ),
            "vec_id bigint, embedding array<double>",
        )

    def persisted() -> set:
        gc.collect()
        sc._jvm.System.gc()
        seen = []
        for _ in range(40):  # the ContextCleaner runs asynchronously
            time.sleep(0.25)
            seen.append(set(sc._jsc.getPersistentRDDs().keySet()))
            if len(seen) >= 3 and seen[-1] == seen[-2] == seen[-3]:
                break
        return seen[-1]

    vs = VectorSearch(16, "HNSW32", spark=spark)
    vs.exact_shortcut_rows = 0
    vs.add(frame(range(240), v))
    queries = frame(range(1000, 1012), v[::20] + 0.01)
    frames, answers = [], []

    def search():
        out = vs.search(queries, k=3)
        answers.append(out.collect())
        frames.append(out)
        assert isinstance(vs._epoch.serving, HnswSnapshot)
        assert len(answers[-1]) == 12 * 3

    def old_frames_still_collect():
        for out, rows in zip(frames, answers):
            assert out.collect() == rows

    before = persisted()  # whatever earlier tests still hold
    search()
    first = len(persisted() - before)
    seed = vs._epoch
    vs.add(frame(range(500, 510), v[:10]))
    old_frames_still_collect()
    # a second add before any search keeps the first retired epoch
    # (ADVICE r10): it still matches the corpus the repair starts from
    vs.add(frame(range(600, 605), v[40:45]))
    assert vs._retired is seed and seed.graph is not None
    assert seed.serving is None  # retiring released the snapshot
    search()
    assert len(persisted() - before) <= first
    assert vs._retired is None and vs._pending is None
    assert vs._epoch.graph_params["built"] == "insert"
    # each batch's rows are bit-identical twins of corpus members:
    # with self excluded, a member's top-1 is its twin (dot 1.0)
    members = [*range(10), *range(40, 45)]
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in vs.search(frame(members, v[members]), k=1).collect()
    }
    assert top1 == {
        **{i: 500 + i for i in range(10)},
        **{40 + j: 600 + j for j in range(5)},
    }
    vs.remove([0, 1, 2, 500])
    old_frames_still_collect()
    search()
    assert len(persisted() - before) <= first
    assert answers[2] != answers[0]  # the removed ids left the index
    assert not {r["neighbor_id"] for r in answers[2]} & {0, 1, 2, 500}

    # save → load: the replaced epoch is released (save() cached its
    # navigation membership, which must not outlive it) and the
    # loaded index serves the same rows
    replaced = vs._epoch
    before_save = persisted()
    vs.save(str(tmp_path / "idx"))
    cached_by_save = persisted() - before_save
    assert cached_by_save  # the membership save() built for the artifact
    vs.load(str(tmp_path / "idx"))
    assert vs._epoch is not replaced
    assert (replaced.graph, replaced.hier, replaced.nav, replaced.serving) == (
        None, None, None, None,
    )
    search()
    assert sorted(map(tuple, answers[3])) == sorted(map(tuple, answers[2]))
    assert not cached_by_save & persisted()


def test_vector_search_cold_search_is_one_collect(spark, tmp_path, monkeypatch):
    """Within the broadcast cap the first descent-tier search builds the
    hierarchy in numpy from one corpus collect: at most 3 Spark jobs
    (row count, corpus collect, the query batch's collect), nothing
    left persisted, and ``save()`` writes ``__graph``/``__hier``
    artifacts row-equal to those of the relational build. A warm
    search of a batch within the driver cut, built by
    ``createDataFrame`` from pandas, runs no Spark job at all, nor
    does collecting its result; the snapshot makes its one broadcast
    on the first batch over the cut, reuses it for the next, and the
    index's next mutation unpersists it. A batch served by that scan
    equals, row for row and in order, the same batch on the
    driver."""
    import numpy as np
    import pandas as pd

    from job_post_similarity_spark import index_api
    from job_post_similarity_spark.index_api import VectorSearch
    from job_post_similarity_spark.operators import ann

    sc = spark.sparkContext
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(8, 16))
    v = centers[np.arange(300) % 8] + 0.3 * rng.normal(size=(300, 16))
    v /= np.linalg.norm(v, axis=1, keepdims=True)

    def frame(ids, vecs):
        return spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": list(ids), "embedding": [list(map(float, x)) for x in vecs]}
            ),
            "vec_id bigint, embedding array<double>",
        )

    corpus = frame(range(300), v)
    queries = frame(range(1000, 1010), v[::30] + 0.01)

    def index():
        vs = VectorSearch(16, "HNSW32", spark=spark)
        vs.exact_shortcut_rows = 0
        vs.add(corpus)
        return vs

    def saved(vs, name):
        path = str(tmp_path / name)
        vs.save(path)
        return [
            sorted(map(tuple, spark.read.parquet(f"{path}__{a}/rows").collect()))
            for a in ("graph", "hier")
        ]

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, sc.statusTracker().getJobIdsForGroup(group)

    vs = index()
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    made = []
    real_broadcast = sc.broadcast

    def counting_broadcast(value):
        bc = real_broadcast(value)
        unpersist = bc.unpersist

        def recorded_unpersist(*args, **kwargs):
            made.append("unpersisted")
            return unpersist(*args, **kwargs)

        bc.unpersist = recorded_unpersist
        made.append(bc)
        return bc

    monkeypatch.setattr(sc, "broadcast", counting_broadcast)
    rows, jobs = jobs_of(
        "test-cold-descent-search", lambda: vs.search(queries, k=3).collect()
    )
    assert 0 < len(jobs) <= 3, jobs
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted
    assert len(rows) == 30

    # warm: a createDataFrame batch within the cut is served on the
    # driver, and collecting the local result runs no job either
    warm, jobs = jobs_of(
        "test-warm-descent-search", lambda: vs.search(queries, k=3).collect()
    )
    assert jobs == [] and warm == rows
    assert made == []  # no broadcast yet
    snap = vs._epoch.serving
    monkeypatch.undo()

    # the relational tier: the same index with the in-cap build off
    monkeypatch.setattr(index_api, "_SNAPSHOT_CAP", -1)
    ref = index()
    assert sorted(map(tuple, ref.search(queries, k=3).collect())) == sorted(
        map(tuple, rows)
    )
    want = saved(ref, "relational")
    monkeypatch.undo()
    assert saved(vs, "local") == want
    assert all(want)

    # a 1001-query batch is within the driver cut; with the cut
    # patched below it, the same batch takes one scan over one
    # broadcast, made on the first such batch and reused by the next,
    # and answers row for row as on the driver. Its rows arrive out of
    # id order, so only a total sort puts the scan's output in order.
    monkeypatch.setattr(sc, "broadcast", counting_broadcast)
    shuffled = np.random.default_rng(7).permutation(1001)
    big = frame(
        np.array([*range(1000, 1010), *range(5000, 5991)])[shuffled],
        np.concatenate([v[::30] + 0.01, v[np.arange(991) % 300] + 0.02])[
            shuffled
        ],
    )
    on_driver = vs.search(big, k=3).collect()
    assert len(on_driver) == 1001 * 3 and made == []
    assert [r for r in on_driver if r["query_id"] < 1010] == rows
    monkeypatch.setattr(ann, "_DRIVER_BATCH", 100)
    for _ in range(2):
        assert vs.search(big, k=3).collect() == on_driver
    assert vs._epoch.serving is snap
    assert len(made) == 1 and snap._bc is made[0]
    vs.remove([0])  # a mutation releases the epoch's snapshot
    assert made[1:] == ["unpersisted"] and snap.arrays is None


def test_vector_search_saves_and_reloads_hierarchy_artifact(
    spark, embeddings, tmp_path
):
    """The at-scale HNSW tier's hierarchy persists through save/load
    (sibling ``__hier`` artifact with top_layer/layer_sizes meta): a
    reloaded index descends immediately — same answers, no rebuild —
    and a save with no hierarchy deletes a stale sibling."""
    from job_post_similarity_spark.index_api import VectorSearch

    dim = len(embeddings.first()["embedding"])
    vs = VectorSearch(dim, "HNSW32", spark=spark)
    vs.add(embeddings)
    vs.exact_shortcut_rows = 0
    queries = embeddings.filter(F.col("vec_id") < 5)
    want = sorted(map(tuple, vs.search(queries, k=2).collect()))
    assert vs._epoch.hier is not None

    path = str(tmp_path / "idx")
    vs.save(path)

    vs2 = VectorSearch(dim, "HNSW32", spark=spark)
    vs2.load(path)
    vs2.exact_shortcut_rows = 0
    assert vs2._epoch.hier is not None and vs2._epoch.hier_meta is not None
    # the per-layer nav membership rides the artifact too — the
    # reloaded index serves without md5-rescanning the corpus
    assert vs2._epoch.nav is not None
    got = sorted(map(tuple, vs2.search(queries, k=2).collect()))
    assert got == want

    # a knob mismatch refuses the hierarchy artifact (ADVICE r9):
    # the descent would replay the wrong md5 % m^l membership
    vs_m4 = VectorSearch(dim, "HNSW32", spark=spark)
    vs_m4._HIER_KNOBS = {**VectorSearch._HIER_KNOBS, "m": 4}
    vs_m4.load(path)
    assert vs_m4._epoch.hier is None and vs_m4._epoch.nav is None

    # a save from an instance WITHOUT a built hierarchy removes the
    # stale sibling (same lifecycle rule as the flat graph artifact)
    vs3 = VectorSearch(dim, "HNSW32", spark=spark)
    vs3.add(embeddings)
    vs3.save(path)
    vs4 = VectorSearch(dim, "HNSW32", spark=spark)
    vs4.load(path)
    assert vs4._epoch.hier is None
