"""Trained-index persistence: save/load round-trips and the
load-or-build memoization contract (reference app/main.py:177-194 —
load if present, rebuild on count mismatch or load failure)."""

import json
import os

import numpy as np
import pytest

from job_post_similarity_spark.operators import ann, index_store


@pytest.fixture()
def vectors(spark):
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((120, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"vec_id": range(120), "embedding": list(mat)})
    )


def test_ivf_save_load_roundtrip(spark, vectors, tmp_path):
    path = str(tmp_path / "ivf")
    assigned, centers = ann.ivf_assign(
        vectors, "embedding", n_centroids=8, n_probe=2, n_rows=120
    )
    index_store.save_ivf_index(path, centers, assigned, 120)
    loaded, centers2, meta = index_store.load_ivf_index(spark, path)
    assert np.array_equal(centers, centers2)
    assert meta["n_rows"] == 120 and meta["kind"] == "ivf"
    a = sorted((r["vec_id"], r["bucket"]) for r in assigned.collect())
    b = sorted((r["vec_id"], r["bucket"]) for r in loaded.collect())
    assert a == b


def test_pq_save_load_roundtrip_and_search_parity(spark, vectors, tmp_path):
    path = str(tmp_path / "pq")
    books = ann.pq_train(vectors, "embedding", m=4, bits=4, n_rows=120)
    codes = ann.pq_encode(vectors, books, "vec_id", "embedding")
    index_store.save_pq_index(path, books, codes, 120)
    codes2, books2, centers2, meta = index_store.load_pq_index(spark, path)
    assert np.array_equal(books, books2)
    assert centers2 is None and meta["residual"] is False
    # search through the loaded artifact == search through the build
    queries = vectors.limit(5)
    fresh = ann.pq_topk_search(queries, codes, books, k=3).collect()
    reloaded = ann.pq_topk_search(queries, codes2, books2, k=3).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in fresh
    ) == sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in reloaded)


def test_load_or_build_ivf_memoizes(spark, vectors, tmp_path, monkeypatch):
    path = str(tmp_path / "ivf")
    _, _, rebuilt = index_store.load_or_build_ivf(
        spark, vectors, path, n_centroids=8
    )
    assert rebuilt is True
    # second call must LOAD — a retrain would call ivf_assign
    def boom(*a, **k):
        raise AssertionError("retrained despite fresh artifact")

    monkeypatch.setattr(ann, "ivf_assign", boom)
    assigned, centers, rebuilt = index_store.load_or_build_ivf(
        spark, vectors, path, n_centroids=8
    )
    assert rebuilt is False
    assert assigned.count() > 0 and centers.shape == (8, 16)


def test_load_or_build_ivf_rebuilds_on_count_mismatch(spark, vectors, tmp_path):
    path = str(tmp_path / "ivf")
    index_store.load_or_build_ivf(spark, vectors, path, n_centroids=8)
    grown = vectors.unionByName(
        vectors.selectExpr("vec_id + 1000 as vec_id", "embedding")
    )
    _, _, rebuilt = index_store.load_or_build_ivf(
        spark, grown, path, n_centroids=8
    )
    assert rebuilt is True
    _, _, meta = index_store.load_ivf_index(spark, path)
    assert meta["n_rows"] == 240


def test_load_or_build_pq_memoizes_and_survives_corrupt_meta(
    spark, vectors, tmp_path, monkeypatch
):
    path = str(tmp_path / "pq")
    codes, books, centers, rebuilt = index_store.load_or_build_pq(
        spark, vectors, path, m=4, bits=4
    )
    assert rebuilt is True and centers is None

    def boom(*a, **k):
        raise AssertionError("retrained despite fresh artifact")

    monkeypatch.setattr(ann, "pq_train", boom)
    codes2, books2, _, rebuilt = index_store.load_or_build_pq(
        spark, vectors, path, m=4, bits=4
    )
    assert rebuilt is False
    assert np.array_equal(books, books2)
    assert codes2.count() == 120
    monkeypatch.undo()

    # corrupt meta → load failure → rebuild, not crash
    with open(os.path.join(path, "meta.json"), "w") as f:
        f.write("{not json")
    _, _, _, rebuilt = index_store.load_or_build_pq(
        spark, vectors, path, m=4, bits=4
    )
    assert rebuilt is True
    with open(os.path.join(path, "meta.json")) as f:
        assert json.load(f)["n_rows"] == 120


def test_load_or_build_pq_residual_saves_centers(spark, vectors, tmp_path):
    path = str(tmp_path / "ivfpq")
    codes, books, centers, rebuilt = index_store.load_or_build_pq(
        spark, vectors, path, m=4, bits=4, residual_centroids=6
    )
    assert rebuilt is True and centers is not None
    codes2, books2, centers2, meta = index_store.load_pq_index(spark, path)
    assert meta["residual"] is True
    assert np.array_equal(centers, centers2)
    assert "bucket" in codes2.columns  # assignment rides the code table


def test_kind_mismatch_raises(spark, vectors, tmp_path):
    path = str(tmp_path / "ivf")
    assigned, centers = ann.ivf_assign(
        vectors, "embedding", n_centroids=4, n_rows=120
    )
    index_store.save_ivf_index(path, centers, assigned, 120)
    with pytest.raises(index_store.IndexLoadError):
        index_store.load_pq_index(spark, path)


def test_ivf_similarity_join_from_stored_assignment(spark, vectors, tmp_path):
    """End-to-end memoized serving: a pair join driven by the loaded
    artifact equals the join that trains in-process (same seed)."""
    path = str(tmp_path / "ivf")
    assigned, _, _ = index_store.load_or_build_ivf(
        spark, vectors, path, n_centroids=8, n_probe=2
    )
    from_store = ann.ivf_similarity_join(
        vectors, "vec_id", "embedding", threshold=0.2, assigned=assigned
    ).collect()
    fresh = ann.ivf_similarity_join(
        vectors, "vec_id", "embedding", threshold=0.2, n_centroids=8, n_probe=2
    ).collect()
    as_set = lambda rows: {(r["id1"], r["id2"], r["similarity"]) for r in rows}
    assert as_set(from_store) == as_set(fresh)


def test_ivfpq_search_from_stored_artifact(spark, vectors, tmp_path):
    """Memoized IVF-PQ serving: search through the saved residual
    artifact equals the search that builds in-process (same seed)."""
    path = str(tmp_path / "ivfpq")
    codes, books, centers, _ = index_store.load_or_build_pq(
        spark, vectors, path, m=4, bits=4, residual_centroids=6
    )
    queries = vectors.limit(5)
    stored = ann.ivfpq_topk_search(
        queries, vectors, k=3, prebuilt=(codes, books, centers)
    ).collect()
    fresh = ann.ivfpq_topk_search(
        queries, vectors, k=3, n_centroids=6, m=4, bits=4
    ).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in rows
    )
    assert key(stored) == key(fresh)


def test_ivfpq_prebuilt_rejects_plain_pq_artifact(spark, vectors, tmp_path):
    path = str(tmp_path / "pq")
    codes, books, centers, _ = index_store.load_or_build_pq(
        spark, vectors, path, m=4, bits=4
    )
    with pytest.raises(ValueError, match="RESIDUAL"):
        ann.ivfpq_topk_search(
            vectors.limit(2), vectors, prebuilt=(codes, books, centers)
        )


def test_knn_graph_save_load_and_rebuild(spark, embeddings, tmp_path):
    """Graph-index artifact: save/load round-trip, serve beam search
    from the stored edges, count-mismatch and knob-mismatch rebuild
    (the reference load-or-build contract at the graph tier)."""
    from pyspark.sql import functions as F

    from job_post_similarity_spark.operators import ann, index_store

    emb = embeddings.select("vec_id", "embedding").filter(
        F.col("vec_id") < 120
    )
    path = str(tmp_path / "gidx")
    g1, rebuilt1 = index_store.load_or_build_knn_graph(
        spark, emb, path, k=4, iters=2
    )
    assert rebuilt1 is True
    g2, rebuilt2 = index_store.load_or_build_knn_graph(
        spark, emb, path, k=4, iters=2
    )
    assert rebuilt2 is False
    assert sorted(map(tuple, g1.collect())) == sorted(
        map(tuple, g2.collect())
    )
    # serving from the artifact equals serving from a fresh build
    fresh = ann.nn_descent_knn_graph(emb, k=4, iters=2)
    got = ann.graph_beam_search(emb, g2, [0, 1], k=2, beam=6, hops=2)
    want = ann.graph_beam_search(emb, fresh, [0, 1], k=2, beam=6, hops=2)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # knob change forces rebuild; corpus change forces rebuild
    _, rebuilt3 = index_store.load_or_build_knn_graph(
        spark, emb, path, k=6, iters=2
    )
    assert rebuilt3 is True
    _, rebuilt4 = index_store.load_or_build_knn_graph(
        spark, emb.filter(F.col("vec_id") < 100), path, k=6, iters=2
    )
    assert rebuilt4 is True

    # rows artifact deleted under an intact meta.json: the loader maps
    # the read failure to IndexLoadError (load-or-build then rebuilds
    # instead of crashing — the documented contract)
    import shutil

    shutil.rmtree(os.path.join(path, "rows"))
    import pytest as _pytest

    with _pytest.raises(index_store.IndexLoadError, match="unreadable"):
        index_store.load_knn_graph(spark, path)
    _, rebuilt5 = index_store.load_or_build_knn_graph(
        spark, emb, path, k=4, iters=2
    )
    assert rebuilt5 is True


def test_add_to_ivf_index_incremental_no_retrain(spark, vectors, tmp_path):
    """Faiss add() contract: new rows are assigned against the STORED
    centroids (no retrain), appended, and the count is bumped so
    load-or-build keeps serving the artifact."""
    import pandas as pd
    from pyspark.sql import functions as F

    path = str(tmp_path / "ivf_add")
    base = vectors.filter(F.col("vec_id") < 100)
    assigned, centers, rebuilt = index_store.load_or_build_ivf(
        spark, base, path, n_centroids=8, n_probe=2
    )
    assert rebuilt
    new_rows = vectors.filter(F.col("vec_id") >= 100)
    out, centers2, meta = index_store.add_to_ivf_index(
        spark, new_rows, path
    )
    assert np.array_equal(centers, centers2)  # quantizer untouched
    assert meta["n_rows"] == 120
    # the new rows' stored assignments equal a direct assignment
    # against the same centers
    want = sorted(
        (r["vec_id"], r["bucket"])
        for r in ann.ivf_assign_with_centers(
            new_rows, centers, n_probe=2
        ).collect()
    )
    got = sorted(
        (r["vec_id"], r["bucket"])
        for r in out.filter(F.col("vec_id") >= 100).collect()
    )
    assert got == want
    # count now matches the union -> load_or_build serves, no rebuild
    _, _, rebuilt2 = index_store.load_or_build_ivf(
        spark, vectors, path, n_centroids=8, n_probe=2
    )
    assert not rebuilt2
    # empty add is a no-op
    empty = vectors.limit(0)
    _, _, meta3 = index_store.add_to_ivf_index(spark, empty, path)
    assert meta3["n_rows"] == 120


def test_add_to_pq_index_incremental_residual(spark, vectors, tmp_path):
    """PQ add(): new rows encoded with the STORED codebooks + coarse
    centers (residual variant), appended; codes equal a direct encode
    with the same artifacts."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "pq_add")
    base = vectors.filter(F.col("vec_id") < 100)
    codes, books, centers, rebuilt = index_store.load_or_build_pq(
        spark, base, path, m=4, bits=4, residual_centroids=8
    )
    assert rebuilt and centers is not None
    new_rows = vectors.filter(F.col("vec_id") >= 100)
    out, books2, centers2, meta = index_store.add_to_pq_index(
        spark, new_rows, path
    )
    assert np.array_equal(books, books2)
    assert np.array_equal(centers, centers2)
    assert meta["n_rows"] == 120
    enc = ann.pq_encode(
        ann.ivf_assign_with_centers(new_rows, centers, n_probe=1),
        books, "vec_id", "embedding", centers=centers,
        bucket_col="bucket",
    )
    want = sorted(
        (r["vec_id"], tuple(r["pq_code"]), r["bucket"])
        for r in enc.collect()
    )
    got = sorted(
        (r["vec_id"], tuple(r["pq_code"]), r["bucket"])
        for r in out.filter(F.col("vec_id") >= 100).collect()
    )
    assert got == want


def test_vector_search_saves_and_reloads_rabitq_artifact(spark, tmp_path):
    """VectorSearch('RaBitQ').save persists rotation + 1-bit codes;
    a fresh instance load()s them (row-count adoption guard) and
    serves the planted twins WITHOUT retraining — search results
    equal the pre-save ones."""
    import numpy as np

    from pyspark.sql import functions as F

    from job_post_similarity_spark.index_api import VectorSearch
    from job_post_similarity_spark.operators import index_store

    rng = np.random.default_rng(31)
    n, d = 200, 16
    v = rng.normal(size=(n, d))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(n)]
    rows += [(int(i + 100000), [float(x) for x in v[i]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter("vec_id < 10")

    ix = VectorSearch(dimension=d, index_description="RaBitQ", spark=spark)
    ix.exact_shortcut_rows = 1
    ix.add(df)
    before = sorted(map(tuple, ix.search(queries, k=2).collect()))
    path = str(tmp_path / "rbq_idx")
    ix.save(path)

    fresh = VectorSearch(
        dimension=d, index_description="RaBitQ", spark=spark
    )
    fresh.exact_shortcut_rows = 1
    fresh.load(path)
    assert fresh._epoch.rabitq is not None, "artifact not adopted"
    after = sorted(map(tuple, fresh.search(queries, k=2).collect()))
    assert after == before
    top1 = {q: nb for q, nb, _s, r in after if r == 1}
    assert top1 == {i: i + 100000 for i in range(10)}
    # a mismatched row count must refuse adoption
    codes, R, meta = index_store.load_rabitq_index(
        spark, path + "__rabitq"
    )
    assert meta["n_rows"] == 210
    other = VectorSearch(
        dimension=d, index_description="RaBitQ", spark=spark
    )
    other.load(path)
    other.add(df.limit(5).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    ))
    assert other._epoch.rabitq is None  # invalidated by the mutation


def test_add_to_rabitq_index_incremental_no_retrain(spark, tmp_path):
    """RaBitQ add() contract: new rows encode against the STORED
    rotation (seed-only model — appending can never invalidate old
    codes), the artifact grows in place, and the appended codes are
    byte-identical to a from-scratch encode of the union."""
    from pyspark.sql import functions as F

    from job_post_similarity_spark.operators import ann, index_store

    rng = np.random.default_rng(17)
    v = rng.normal(size=(80, 16))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old, new = df.filter("vec_id < 60"), df.filter("vec_id >= 60")
    P = ann.rabitq_train(old, "embedding", seed=9)
    path = str(tmp_path / "rbq_add")
    index_store.save_rabitq_index(
        path, P, ann.rabitq_encode(old, P), 60
    )
    codes, R2, meta = index_store.add_to_rabitq_index(spark, new, path)
    assert meta["n_rows"] == 80
    assert np.array_equal(P, R2)
    got = sorted(map(tuple, codes.collect()))
    want = sorted(map(tuple, ann.rabitq_encode(df, P).collect()))
    assert got == want
