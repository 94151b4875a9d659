"""Unit tests for scalar string/vector functions — the semantic-gap
decisions called out in SURVEY.md §2.8/§7 each get a regression test."""

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from job_post_similarity_spark.functions import strings as S
from job_post_similarity_spark.functions import vectors as V


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_strip_html_tags_and_entities(spark):
    df = spark.createDataFrame(
        [Row(x="<div><p>Hello &amp; welcome</p>\n<br/>world</div>")]
    )
    out = df.select(S.strip_html("x").alias("v")).first()["v"]
    assert out == "Hello & welcome world"


def test_strip_html_pandas_udf_matches_builtin_on_simple_html(spark):
    rows = [Row(x="<b>Bold</b> text"), Row(x="a &lt;tag&gt; b"), Row(x=None)]
    df = spark.createDataFrame(rows)
    got = df.select(
        S.strip_html("x").alias("builtin"),
        S.strip_html_pandas_udf()(F.col("x")).alias("fidelity"),
    ).collect()
    for r in got[:2]:
        assert r["builtin"] == r["fidelity"]
    assert got[2]["fidelity"] is None


def test_trailing_comma_and_remote_and_title(spark):
    df = spark.createDataFrame([Row(st="CA ,", zp="remote", city="new  york")])
    r = df.select(
        S.strip_trailing_comma("st").alias("st"),
        S.normalize_remote("zp").alias("zp"),
        S.title_trim("city").alias("city"),
    ).first()
    assert r["st"] == "CA"
    assert r["zp"] == "REMOTE"
    # documented decision: initcap semantics (whitespace-boundary only)
    assert r["city"] == "New  York".title() or r["city"] == "New  York"


def test_clean_text_collapses_and_lowers(spark):
    df = spark.createDataFrame([Row(x="  A\tB\n\nC  ")])
    assert df.select(S.clean_text("x").alias("v")).first()["v"] == "a b c"


def test_canonical_pair_and_clip(spark):
    df = spark.createDataFrame([Row(a="zzz", b="aaa", s=1.5)])
    lo, hi = S.canonical_pair("a", "b")
    r = df.select(lo.alias("lo"), hi.alias("hi"), S.clip("s", -1, 1).alias("s")).first()
    assert (r["lo"], r["hi"], r["s"]) == ("aaa", "zzz", 1.0)


def test_dot_cosine_norm_identities(spark):
    df = spark.createDataFrame([Row(a=[3.0, 4.0], b=[4.0, 3.0])])
    r = df.select(
        V.dot("a", "b").alias("dot"),
        V.norm("a").alias("na"),
        V.cosine("a", "b").alias("cos"),
        V.norm(V.l2_normalize("a")).alias("unit"),
    ).first()
    assert r["dot"] == 24.0
    assert r["na"] == 5.0
    assert abs(r["cos"] - 24.0 / 25.0) < 1e-12
    assert abs(r["unit"] - 1.0) < 1e-12


def test_l2_to_cosine_identity_on_unit_vectors(spark):
    # For unit vectors: 1 - |a-b|²/2 == a·b exactly (algebraically)
    a = [1.0, 0.0, 0.0]
    b = [math.sqrt(0.5), math.sqrt(0.5), 0.0]
    df = spark.createDataFrame([Row(a=a, b=b)])
    r = df.select(
        V.dot_cosine("a", "b").alias("dot"),
        V.l2_to_cosine(F.sqrt(V.sq_l2_distance("a", "b"))).alias("conv"),
    ).first()
    assert abs(r["dot"] - r["conv"]) < 1e-12
    # l2_to_cosine(0) == 1 (reference invariant, app/evaluation.py:24-27)
    z = spark.createDataFrame([Row(d=0.0)])
    assert z.select(V.l2_to_cosine("d").alias("v")).first()["v"] == 1.0


def test_l2_to_cosine_clips_bounds(spark):
    df = spark.createDataFrame([Row(d=10.0)])
    assert df.select(V.l2_to_cosine("d").alias("v")).first()["v"] == -1.0


def test_normalize_unicode_forms(spark):
    """NFC composes decomposed accents but keeps ligatures; NFKC also
    folds ligatures/width; invalid form raises; nulls pass through."""
    import pandas as pd

    from job_post_similarity_spark.functions.strings import normalize_unicode

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3],
                "t": ["café ﬁle Ａ", None, "plain"],
            }
        )
    )
    nfc = {r["id"]: r["o"] for r in df.select(
        df.id, normalize_unicode("t").alias("o")).collect()}
    assert nfc[1] == "café ﬁle Ａ"  # composed, ligature kept
    assert nfc[2] is None and nfc[3] == "plain"
    nfkc = {r["id"]: r["o"] for r in df.select(
        df.id, normalize_unicode("t", "NFKC").alias("o")).collect()}
    assert nfkc[1] == "café file A"  # ligature + width folded
    import pytest as _pytest

    with _pytest.raises(ValueError):
        normalize_unicode("t", "NFX")


def test_linear_text_classifier_separates_planted_vocab(spark):
    """Weights planted on the hash buckets of 'good' tokens must rank
    good-vocab docs above bad-vocab docs; empty text scores
    sigmoid(bias); probability/logit tiers consistent."""
    import numpy as np
    import pandas as pd

    from job_post_similarity_spark.functions.embed import (
        _TOKEN_MOD,
        _poly_hash_batch,
    )
    from job_post_similarity_spark.operators.text_analysis import (
        linear_text_classifier,
    )

    dim, seed = 256, 42
    good = ["excellent", "informative", "thorough"]
    bad = ["spam", "clickbait"]
    w = np.zeros(dim)
    for toks, val in ((good, 4.0), (bad, -4.0)):
        mixed = (_poly_hash_batch(toks) * (seed * 2 + 1)) % _TOKEN_MOD
        w[mixed % dim] = val
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3],
                "t": [
                    "excellent informative thorough writing",
                    "spam clickbait garbage",
                    "",
                ],
            }
        )
    )
    prob = linear_text_classifier(w, bias=0.0, seed=seed)
    logit = linear_text_classifier(w, bias=0.0, seed=seed, out_type="logit")
    rows = df.select("id", prob("t").alias("p"), logit("t").alias("l")).collect()
    got = {r["id"]: (r["p"], r["l"]) for r in rows}
    assert got[1][0] > 0.9 and got[2][0] < 0.1
    assert got[3][0] == 0.5 and got[3][1] == 0.0
    for p, l in got.values():
        assert abs(p - 1.0 / (1.0 + np.exp(-l))) < 1e-12
    import pytest as _pytest

    with _pytest.raises(ValueError):
        linear_text_classifier(w, out_type="nope")


def test_utf8_byte_stats_arrow(spark):
    from job_post_similarity_spark.functions.arrow_ops import (
        utf8_byte_stats,
    )

    df = spark.createDataFrame(
        [(0, "abc"), (1, "héllo"), (2, None), (3, "日本")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_bytes"], r["n_chars"])
           for r in utf8_byte_stats(df).collect()}
    assert got == {0: (3, 3), 1: (6, 5), 3: (6, 2)}  # null dropped


def test_md5_twin_embedder_unit_norm_and_determinism(spark):
    """Exact-integer components; micros reconstruct to ~unit norm;
    same text ⇒ same vector."""
    from pyspark.sql import functions as F

    from job_post_similarity_spark.functions.embed import (
        md5_twin_components,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "other text")],
        "id long, text string",
    )
    dim = 16
    comps = df.select("id", *md5_twin_components("text", dim=dim))
    rows = {r["id"]: [r[f"__c{j}"] for j in range(dim)] for r in comps.collect()}
    assert rows[1] == rows[2] != rows[3]
    assert all(-1000 <= c <= 1000 for c in rows[1])
    n2 = sum(c * c for c in rows[1])
    micros = [round(c / n2**0.5 * 1e6) for c in rows[1]]
    recon = sum(m * m for m in micros) / 1e12
    assert abs(recon - 1.0) < 1e-3


def test_linear_classifier_twin_contract(spark):
    """Empty text scores logit 0 / keep True; logits are bounded by
    the milli-weight range; determinism across rows."""
    from job_post_similarity_spark.operators.text_analysis import (
        linear_classifier_twin,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "alpha beta gamma"), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in linear_classifier_twin(df).collect()}
    assert out[2]["n_tokens"] == 0 and out[2]["logit_milli"] == 0
    assert out[2]["keep"] is True
    assert out[1]["logit_milli"] == out[3]["logit_milli"]
    assert -1000 <= out[1]["logit_milli"] <= 1000


def test_cache_layout_helpers(spark):
    """cache_auto persists with the plan unchanged; cache_pinned puts
    an explicit (never-AQE-coalesced) cluster-scaled repartition under
    the persist — the declared-layout contract every query-path cache
    routes through (see caching.py / tools/cache_census.py)."""
    from job_post_similarity_spark.caching import cache_auto, cache_pinned

    df = spark.range(100).withColumnRenamed("id", "k")
    a = df.transform(cache_auto)
    assert a.storageLevel.useMemory
    assert sorted(r["k"] for r in a.collect()) == list(range(100))
    a.unpersist()

    p = df.transform(cache_pinned("k", partitions=7))
    assert p.storageLevel.useMemory
    assert p.rdd.getNumPartitions() == 7
    assert sorted(r["k"] for r in p.collect()) == list(range(100))
    p.unpersist()

    d = df.transform(cache_pinned())
    assert (
        d.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    d.unpersist()


def test_cache_census_matches_calls_not_text():
    """tools/cache_census.py finds cache sites in the AST (ADVICE r13
    #4): a storage-level or multi-line ``.persist(...)`` is a bare
    site, ``.rdd.persist(...)`` is the allowlisted RDD kind, and the
    word in a comment or a string is no site at all."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "cache_census.py",
    )
    spec = importlib.util.spec_from_file_location("cache_census", path)
    census = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(census)
    src = (
        "a = df.persist(StorageLevel.DISK_ONLY)\n"
        "b = (df\n"
        "     .persist(\n"
        "     ))\n"
        "c = df.rdd.persist()\n"
        "# df.persist() in a comment\n"
        "s = 'x.persist()'\n"
        "d = df.transform(cache_auto)\n"
        "e = df.transform(cache_pinned('k', partitions=7))\n"
    )
    assert sorted(
        (line, kind, detail) for line, kind, detail in census._sites(src)
        if kind != "bare"
    ) == [(5, "rdd", "df.rdd.persist()"), (8, "auto", ""),
          (9, "pinned", "'k', partitions=7")]
    assert sorted(
        line for line, kind, _ in census._sites(src) if kind == "bare"
    ) == [1, 3]
