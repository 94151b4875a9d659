"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

All map-side column expressions (no UDF, no shuffle) — at 100 TB these
annotate documents in the same scan that reads them, and every one is
deterministic so the DuckDB oracle can replay it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..caching import cache_auto

# Tiny per-language stopword marker lists for the n-gram/stopword
# heuristic language-ID. Deliberately small + deterministic.
# Distinct-word budget for the unigram trainer's driver fast tier
# (the connected_components small-graph pattern): word tables at or
# under this row count are collected once and EM/loss passes run
# in-process; larger tables keep the distributed mapInPandas path.
_UNIGRAM_DRIVER_BUDGET = 200_000

_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "las", "es", "y", "que", "por", "para", "una"],
    "zh": ["的", "是", "了", "在", "和", "有", "不", "人"],
}


def _let(bindings: dict[str, Column], body) -> Column:
    """Bind each expression ONCE and evaluate ``body`` over the bound
    struct — a relational 'let' for higher-order-function trees.

    Interpreted HOF expressions get no common-subexpression
    elimination, so a subtree referenced k times is evaluated k times
    (measured ~8× on ``lang_id``'s tie-break chain). Routing the
    shared pieces through one struct inside a single-element
    ``transform`` evaluates each piece exactly once per row: the
    lambda variable is a bound VALUE, not a subtree, so every
    reference in ``body`` is a field read. Pure column algebra —
    deterministic, engine-replayable, no UDF, and the bound
    expressions are byte-identical to their inline forms."""
    fields = F.struct(*[v.alias(k) for k, v in bindings.items()])
    return F.element_at(F.transform(F.array(fields), body), 1)


def token_count(col: Column | str) -> Column:
    """Whitespace token count. 0 for empty/blank text."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count of word/number/punct chunks via a
    GPT-style pre-tokenizer regex, plus a 4-chars-per-token correction
    for long words (common heuristic for LLM budget estimates)."""
    c = F.col(col) if isinstance(col, str) else col
    chunks = F.filter(
        F.split(c, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"), lambda s: s != ""
    )
    long_extra = F.aggregate(
        chunks,
        F.lit(0),
        lambda acc, s: acc
        + F.when(F.length(s) > 4, F.ceil(F.length(s) / 4) - 1).otherwise(0).cast("int"),
    )
    return F.size(chunks) + long_extra


def punct_ratio(col: Column | str) -> Column:
    """Punctuation characters / total characters."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    punct = total - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(total > 0, punct / total).otherwise(F.lit(0.0))


def quality_score(col: Column | str, lang: str = "en") -> Column:
    """Composite document quality score in [0, 1]:
    0.4·length_score + 0.3·stopword_score + 0.3·(1 - punct_ratio).

    The C4/Gopher-style shape: prefer mid-length documents with natural
    stopword density and low symbol noise.

    Computed in integer basis points (least/floor over exact int64),
    divided by 10000 only at the end: every engine produces the
    identical integer, so the score is bit-reproducible cross-engine
    (double-accumulation order cannot flip a rounded digit).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    sw = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
    total = F.length(c)
    # every multiply-referenced piece is bound ONCE via _let — the
    # lowered token array at an OUTER level (lang_id's shape; inlining
    # it into both the marker scan and the size binding evaluated the
    # trim+lower+split twice per row — ADVICE r12), the scalar pieces
    # (token_count's own un-lowered split, the punct regex) at the
    # inner level; the arithmetic below is byte-identical to the
    # inline form it replaces
    return _let(
        {"t": toks},
        lambda o: _let(
            {
                "n_tok": token_count(c).cast("long"),
                "hits": F.size(
                    F.filter(o["t"], lambda t: F.array_contains(sw, t))
                ).cast("long"),
                "n_low": F.size(o["t"]).cast("long"),
                "total": total,
                "punct": (
                    total - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
                ).cast("long"),
            },
            lambda x: (
            # length component: 0.4·min(n_tok/50, 1) → min(n_tok·80, 4000) bp
            F.least(x["n_tok"] * 80, F.lit(4000))
            # stopword component: 0.3·min(5·hits/n, 1) → min(⌊hits·15000/n⌋, 3000) bp
            + F.when(
                x["n_low"] > 0,
                F.least(
                    F.floor(x["hits"] * 15000 / x["n_low"]).cast("long"),
                    F.lit(3000),
                ),
            ).otherwise(F.lit(0))
            # punctuation component: 0.3·(1 - punct/total) → 3000 - ⌊punct·3000/total⌋ bp
            + F.when(
                x["total"] > 0,
                F.lit(3000)
                - F.floor(
                    x["punct"] * 3000 / x["total"].cast("long")
                ).cast("long"),
            ).otherwise(F.lit(3000))
            )
            / F.lit(10000.0),
        ),
    )


def lang_id(col: Column | str) -> Column:
    """Heuristic language-ID: the language whose marker-stopword hit
    count is highest wins; ties and zero-hits fall back to 'und'.

    greatest-of-N scoring, fully in codegen. (A char-n-gram model is
    the richer variant; marker scoring is the deterministic baseline.)
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")

    def _scores(t: Column) -> dict[str, Column]:
        return {
            lang: F.size(
                F.filter(
                    t,
                    lambda w: F.array_contains(
                        F.array(*[F.lit(m) for m in words]), w
                    ),
                )
            )
            for lang, words in _LANG_MARKERS.items()
        }

    def _pick(s: Column) -> Column:
        # one more binding level so greatest(...) is evaluated once,
        # not once per tie-break branch
        return _let(
            {"best": F.greatest(*[s[lang] for lang in _LANG_MARKERS])},
            lambda b: _pick_with_best(s, b["best"]),
        )

    def _pick_with_best(s: Column, best: Column) -> Column:
        expr = F.lit("und")
        # reversed so that on ties the alphabetically-first language wins
        for lang in sorted(_LANG_MARKERS, reverse=True):
            expr = F.when(
                (s[lang] == best) & (best > 0), F.lit(lang)
            ).otherwise(expr)
        return expr

    # three binding levels (split → per-lang scores → max score): the
    # token array is materialized once, each language's marker scan
    # runs once, and the tie-break chain reads bound integers — the
    # inline form re-evaluated the marker scans ~8× per row
    return _let(
        {"t": toks},
        lambda x: _let(_scores(x["t"]), _pick),
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 digest of the normalized text
    (lowercased, whitespace-collapsed) — the canonical-form content
    address used for cross-corpus exact dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def rolling_fingerprint(col: Column | str, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling-hash fingerprint over whitespace tokens
    (base-31 Horner fold mod a prime) — the incremental-update form
    used for shift-tolerant chunk fingerprinting."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    codes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 14), 16, 10).cast("long")
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x % mod) % mod,
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_word_ratio_x100: int = 10,
) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, §A1.1 —
    public heuristics used across training-data pipelines): word-count
    bounds, mean-word-length bounds, symbol-to-word ratio. Emits the
    raw integer measurements plus one boolean per rule and the
    composite keep flag — all JVM expressions, integer arithmetic only
    (oracle-hash-stable).
    """
    c = F.col(text_col)
    toks = F.split(F.trim(c), r"\s+")
    n_words = F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(toks))
    total_word_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    # hash/ellipsis symbol count (Gopher counts '#' and '...')
    n_hash = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    n_ellipsis = F.size(F.split(c, r"\.\.\.", -1)) - 1
    mean_len_x100 = F.when(
        n_words > 0, F.floor(total_word_chars * 100 / n_words)
    ).otherwise(F.lit(0))
    symbol_ratio_x100 = F.when(
        n_words > 0, F.floor((n_hash + n_ellipsis) * 100 / n_words)
    ).otherwise(F.lit(0))
    flag_words = (n_words >= min_words) & (n_words <= max_words)
    flag_mean = (mean_len_x100 >= min_mean_word_len * 100) & (
        mean_len_x100 <= max_mean_word_len * 100
    )
    flag_symbols = symbol_ratio_x100 <= max_symbol_word_ratio_x100
    return df.select(
        "*",
        n_words.alias("n_words"),
        mean_len_x100.cast("long").alias("mean_word_len_x100"),
        symbol_ratio_x100.cast("long").alias("symbol_ratio_x100"),
        flag_words.alias("pass_word_count"),
        flag_mean.alias("pass_mean_word_len"),
        flag_symbols.alias("pass_symbol_ratio"),
        (flag_words & flag_mean & flag_symbols).alias("keep"),
    )


def top_ngram_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Repetition gate (Gopher §A1.1 'fraction of characters in the
    most common n-gram'): per document, the occurrence share of its
    most frequent word n-gram, as floor(count·100/total) — integer,
    oracle-stable.

    Relational shape: explode grams → count per (doc, gram) → window
    max — two shuffles on the doc key, both tiny (grams aggregate
    before the window). Highly repetitive machine-generated text
    scores high and gets filtered upstream.
    """
    from pyspark.sql.window import Window

    from .dedup import word_ngrams

    grams = df.select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n, distinct=False)).alias("gram"),
    )
    counts = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(id_col)
    return (
        counts.withColumn("total", F.sum("cnt").over(w))
        .withColumn("max_cnt", F.max("cnt").over(w))
        .filter(F.col("cnt") == F.col("max_cnt"))
        .groupBy(id_col, "total", "max_cnt")
        .agg(F.min("gram").alias("top_gram"))
        .select(
            id_col,
            "top_gram",
            F.col("max_cnt").alias("top_cnt"),
            F.floor(F.col("max_cnt") * 100 / F.col("total"))
            .cast("long")
            .alias("top_gram_pct"),
        )
    )


def annotate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass annotation: token count, quality, language, fingerprint."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        doc_fingerprint(text_col).alias("fingerprint"),
    )


def linear_text_classifier(
    weights,
    bias: float = 0.0,
    seed: int = 42,
    out_type: str = "probability",
):
    """fastText-shaped linear classifier INFERENCE at corpus scale —
    the learned-quality-filter step of modern pretraining pipelines
    (DCLM/FineWeb-style fastText filters), distinct from the heuristic
    ``quality_score``: score = sigmoid(bias + mean of per-token bucket
    weights), with tokens hashed into ``len(weights)`` buckets.

    Training happens offline (sklearn/fastText on a labeled sample);
    this ships the weight vector to every executor ONCE (broadcast by
    Arrow UDF closure) and scores 100 TB map-side with zero shuffles.
    Token hashing reuses the embedder's vectorized polynomial hash
    (functions.embed._poly_hash_batch + the same seeded mix), so a
    bucket here corresponds 1:1 to a hashing-embedder dimension —
    weights learned on hashed features transfer directly.

    Returns a pandas UDF: text → double (``probability`` in (0,1), or
    raw ``logit``). Empty/null text scores sigmoid(bias).
    """
    import numpy as np

    from ..functions.embed import _TOKEN_MOD, _poly_hash_batch

    if out_type not in ("probability", "logit"):
        raise ValueError(f"unknown out_type {out_type!r}")
    w = np.asarray(weights, dtype=np.float64)
    dim = len(w)

    @F.pandas_udf("double")
    def _score(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            toks_per_row = [
                t.lower().split() if t is not None else [] for t in s
            ]
            counts = np.fromiter(
                map(len, toks_per_row), np.int64, count=len(toks_per_row)
            )
            flat = [tok for ts in toks_per_row for tok in ts]
            logits = np.full(len(toks_per_row), bias, dtype=np.float64)
            if flat:
                codes = _poly_hash_batch(flat)
                mixed = (codes * (seed * 2 + 1)) % _TOKEN_MOD
                tok_w = w[mixed % dim]
                row_idx = np.repeat(np.arange(len(toks_per_row)), counts)
                sums = np.bincount(
                    row_idx, weights=tok_w, minlength=len(toks_per_row)
                )
                nz = counts > 0
                logits[nz] += sums[nz] / counts[nz]
            if out_type == "logit":
                yield pd.Series(logits)
            else:
                yield pd.Series(1.0 / (1.0 + np.exp(-logits)))

    return _score


def bigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """CCNet-shaped perplexity scoring: train an add-k-smoothed bigram
    LM on the corpus itself, then score each document's perplexity
    under it — the classic signal for perplexity-based quality
    filtering (CCNet buckets a corpus into head/middle/tail by LM
    perplexity; here the LM is the corpus's own bigram model, so the
    score flags documents whose token transitions are atypical for
    the corpus). Documents with fewer than 2 tokens are dropped (no
    bigram evidence). Output: (id, n_bigrams, ppl).

    Cross-engine determinism: per-bigram log-probs are rounded to
    millionths and summed as INTEGERS (a double sum is
    order-dependent in the last ulp, and Spark and DuckDB reduce in
    different orders); the exp/division happens once per doc on the
    exact integer sum.

    Scale shape: bigram explode is map-side; the LM is two hash
    aggregations (context counts, bigram counts) + one broadcast-able
    1-row vocab aggregate; scoring is one bigram-keyed join + one
    per-doc aggregation. The bigram table is persisted — it feeds the
    two LM aggregates AND the scoring join, and unpersisted the
    tokenize+explode (and the scan under it) would run three times.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
        F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
    )
    big = (
        df.filter(F.size(toks) >= 2)
        .select(id_col, F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    ).transform(cache_auto)
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    vocab = big.agg(F.countDistinct("w2").alias("vv"))
    lp = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("c12") + F.lit(add_k))
                    / (F.col("c1") + F.lit(add_k) * F.col("vv"))
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("lp6"),
        )
    )
    per = big.join(lp, ["w1", "w2"]).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp6").alias("s6"),
    )
    return per.select(
        id_col,
        "n_bigrams",
        F.round(
            F.exp(
                -(
                    F.col("s6").cast("double")
                    / (F.col("n_bigrams").cast("double") * F.lit(1e6))
                )
            ),
            4,
        ).alias("ppl"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 5,
) -> DataFrame:
    """Per-document top-N terms by TF-IDF (tf × ln(N/df)) — the
    classic characteristic-terms profile, used for corpus exploration
    and near-dup triage. Output: (id, token, score, rank).

    Cross-engine determinism: the score is ROUNDED to 4 digits BEFORE
    ranking, and ties break on token asc — so the chosen top-N cannot
    depend on sub-round-off libm differences between engines (the
    DuckDB oracle replays the same pipeline in SQL).

    Scale shape: tokenize/explode map-side; two hash aggregations
    (doc-term tf, term document-frequency), one term-keyed join, one
    per-doc window. The document count is a single count() action —
    the same one-scalar price the IDF definition itself demands.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n_docs = df.count()
    tok = df.select(id_col, F.explode(toks).alias("token"))
    # persist: tf feeds both the document-frequency aggregate and the
    # scoring join — unpersisted, the tokenize+explode+count pipeline
    # (and the scan) runs twice. Rows = distinct (doc, term) pairs.
    tf = (
        tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    ).transform(cache_auto)
    dfreq = tf.groupBy("token").agg(F.countDistinct(id_col).alias("df_t"))
    scored = tf.join(dfreq, "token").select(
        id_col,
        "token",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_t")), 4
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(id_col, "token", "score", "rank")
        .orderBy(id_col, "rank")
    )


def frequent_tokens(
    df: DataFrame,
    text_col: str = "text",
    min_share: float = 0.001,
    capacity: int | None = None,
) -> DataFrame:
    """Corpus-level frequent-token table (vocabulary heavy hitters):
    tokens appearing in at least ``min_share`` of all token
    occurrences, with exact counts. Tokenize/explode is map-side; the
    counting goes through ``profiling.heavy_hitters`` (Misra-Gries
    candidates per partition, exact count of candidates only), so the
    full token stream is never shuffled. Output: (token, cnt)."""
    from .profiling import heavy_hitters

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = df.select(F.explode(toks).alias("token"))
    return heavy_hitters(tok, "token", min_share=min_share, capacity=capacity)


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Collocation extraction by pointwise mutual information:
    PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) over adjacent token
    pairs, for bigrams seen at least ``min_count`` times — the classic
    phrase-mining signal (high PMI = tokens that co-occur far more
    than chance: "new york", "machine learning").

    Cross-engine determinism: PMI is computed in integer millionths
    (one ln per bigram row — per-value libm agreement, no
    order-dependent double accumulation) and RANKED on the integer,
    ties broken lexicographically, so the top-N cannot depend on
    sub-round-off differences. Output: (w1, w2, n12, pmi, rank).

    Scale shape: same plan family as ``bigram_perplexity`` — map-side
    bigram explode, two hash aggregations (bigram counts, unigram
    counts), one broadcast-able totals row; the min_count filter
    prunes the long tail BEFORE the join; one global top-N sort over
    the surviving (rare) collocation rows.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
        F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
    )
    big = (
        df.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    ).transform(cache_auto)
    c12 = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n12"))
        .filter(F.col("n12") >= min_count)
    )
    # unigram counts over bigram SLOTS (left occurrences for w1, right
    # for w2) so p's share one normalizer N = total bigram count
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    c2 = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n2"))
    tot = big.agg(F.count(F.lit(1)).alias("nn"))
    pmi6 = (
        F.round(
            F.log(
                (F.col("n12").cast("double") * F.col("nn").cast("double"))
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            )
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("pmi6")
    )
    scored = (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n12", pmi6)
    )
    # TakeOrdered first, window second: ranking the FULL pair table
    # would be a single-task window over the bigram vocabulary; after
    # the distributed top-N cut the rank window touches top_n rows
    w = Window.orderBy(F.desc("pmi6"), F.asc("w1"), F.asc("w2"))
    return (
        scored.orderBy(F.desc("pmi6"), F.asc("w1"), F.asc("w2"))
        .limit(top_n)
        .withColumn("rank", F.row_number().over(w))
        .select(
            "w1",
            "w2",
            "n12",
            (F.col("pmi6").cast("double") / 1e6).alias("pmi"),
            "rank",
        )
        .orderBy("rank")
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_postings: int = 100,
) -> DataFrame:
    """Build an inverted index: token → document frequency + sorted
    (capped) posting list — the lexical-retrieval counterpart of the
    ANN index tiers.

    One explode of DISTINCT per-doc tokens (``array_distinct`` rides
    the scan, so a token repeated inside a doc costs one row), one
    hash aggregate on token. Posting lists are sorted then capped at
    ``max_postings`` AFTER the sort, so the cap is deterministic (the
    lowest ids survive). At 100 TB posting lists for stopword-grade
    tokens explode past any row budget — ``min_df`` prunes hapaxes
    and the cap bounds the hot tokens; a full-fidelity index would
    bucket postings into (token, shard) rows instead.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    t = df.filter(F.col(text_col).isNotNull()).select(
        id_col, F.explode(F.array_distinct(toks)).alias("token")
    )
    return (
        t.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.slice(
                F.array_sort(F.collect_list(F.col(id_col))),
                1,
                max_postings,
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def bm25_rank(
    df: DataFrame,
    query_tokens: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
) -> DataFrame:
    """BM25 lexical ranking of documents against a token query
    (Robertson/Sparck Jones; the Lucene ``+1`` idf form so scores stay
    positive): score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    b·dl/avgdl)).

    Cross-engine determinism, same policy as ``pmi_collocations``:
    each per-(doc, term) contribution takes ONE ln and a fixed
    parenthesization, is rounded to integer millionths, and only the
    INTEGERS are summed per doc — no order-dependent double
    accumulation; ranking ties break on the doc id.

    Scale shape: the token explode filters to the query vocabulary
    map-side (the corpus never shuffles by token); the tf table is
    |matching docs| × |query| rows; document frequencies and the
    (N, avgdl) stats row broadcast back onto it.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    docs = df.filter(F.col(text_col).isNotNull()).select(
        id_col, F.size(toks).alias("dl"), toks.alias("__toks")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        docs.select(id_col, "dl", F.explode("__toks").alias("token"))
        .filter(F.col("token").isin(list(query_tokens)))
        .groupBy(id_col, "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("dfreq").cast("double") + 0.5)
        / (F.col("dfreq").cast("double") + 0.5)
        + 1.0
    )
    tfd = F.col("tf").cast("double")
    contrib6 = (
        F.round(
            (idf * (tfd * (k1 + 1.0)))
            / (tfd + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl))
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("c6")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(id_col, contrib6)
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("terms_matched"),
            F.sum("c6").alias("score6"),
        )
        .orderBy(F.desc("score6"), F.asc(id_col))
        .limit(top_n)
        .select(
            id_col,
            "terms_matched",
            (F.col("score6").cast("double") / 1e6).alias("score"),
        )
    )


def bpe_merge_pairs(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 30,
    min_count: int = 2,
) -> DataFrame:
    """One BPE-training merge step: corpus frequency of adjacent
    symbol (character) pairs, weighted by word frequency — the
    argmax of this table is exactly the pair a byte-pair-encoding
    tokenizer trainer would merge next (Sennrich et al. 2016 §3.2).
    Output: ``(pair, pair_count)`` top-N by (count desc, pair asc).

    Scale shape — the trick that makes BPE training feasible on a
    100 TB corpus: aggregate the token stream to the DISTINCT-WORD
    table FIRST (one shuffle; vocabulary is orders of magnitude
    smaller than the corpus), then the 2-gram explode and the pair
    aggregate run over weighted vocabulary rows only. The 2-gram
    generation is a pure JVM ``transform(sequence(...))`` — map-side,
    codegen, no Python. Counts are exact integers → engine-exact.

    Words are lowercased, whitespace-tokenized, and restricted to
    ``^[a-z]+$`` of length ≥ 2 (multi-byte grapheme slicing is
    engine-dependent; the ASCII restriction keeps substring semantics
    identical everywhere, and real BPE trainers pre-normalize the
    same way).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    words = df.select(F.explode(toks).alias("w")).filter(
        F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2)
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("wcnt"))
    grams = wc.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "wcnt",
    )
    return (
        grams.groupBy("pair")
        .agg(F.sum("wcnt").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(top_n)
    )


def chi2_token_label(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    min_df: int = 5,
    top_n: int = 30,
) -> DataFrame:
    """Chi-square token↔label association — the classic feature-
    selection score for training a text classifier (pick the tokens
    whose presence is most label-informative; Yang & Pedersen 1997).
    Output: ``(token, label, chi2, rank)`` top-N by the ROUNDED
    score (desc), token asc, label asc — rounding before ranking so
    the chosen set cannot depend on sub-round-off float noise (the
    ``tf_idf_top_terms`` policy).

    For each (token t, label L) over the 2×2 doc-level contingency
    [a = docs with t and L, b = with t not L, c = L without t,
    d = neither]:  chi2 = N (ad − bc)² / ((a+b)(c+d)(a+c)(b+d)).
    All counts are exact integers; the score is a fixed-shape IEEE
    double expression — both engines evaluate the identical
    parenthesization, so the doubles agree to the bit. Degenerate
    margins (token in every doc, label covering all or no docs) are
    filtered — their chi2 is undefined (zero denominator).

    Scale shape: doc-level DISTINCT (doc, token) grain (one shuffle),
    a token×label aggregate, label margins as a tiny broadcast, and a
    TakeOrdered — no cartesian; the corpus is scanned once.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.filter(
        F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
    )
    n_docs = base.count()
    dt = (
        base.select(
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("label"),
            F.explode(toks).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    # a: docs containing token with this label; df_t: all docs with token
    tl = dt.groupBy("token", "label").agg(F.count(F.lit(1)).alias("a"))
    tmarg = tl.groupBy("token").agg(F.sum("a").alias("df_t"))
    lmarg = (
        base.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("n_l"))
    )
    j = (
        tl.join(tmarg.filter(F.col("df_t") >= min_df), "token")
        .join(F.broadcast(lmarg), "label")
        .select(
            "token",
            "label",
            F.col("a").cast("double").alias("da"),
            (F.col("df_t") - F.col("a")).cast("double").alias("db"),
            (F.col("n_l") - F.col("a")).cast("double").alias("dc"),
            (
                F.lit(n_docs) - F.col("df_t") - F.col("n_l") + F.col("a")
            ).cast("double").alias("dd"),
            F.col("df_t"),
            F.col("n_l"),
        )
        .filter(
            (F.col("df_t") < n_docs)
            & (F.col("n_l") > 0)
            & (F.col("n_l") < n_docs)
        )
    )
    chi2 = (
        F.lit(float(n_docs))
        * (F.col("da") * F.col("dd") - F.col("db") * F.col("dc"))
        * (F.col("da") * F.col("dd") - F.col("db") * F.col("dc"))
        / (
            (F.col("da") + F.col("db"))
            * (F.col("dc") + F.col("dd"))
            * (F.col("da") + F.col("dc"))
            * (F.col("db") + F.col("dd"))
        )
    )
    scored = j.select(
        "token", "label", F.round(chi2, 4).alias("chi2")
    )
    w = Window.orderBy(
        F.desc("chi2"), F.asc("token"), F.asc("label")
    )
    return (
        scored.orderBy(F.desc("chi2"), F.asc("token"), F.asc("label"))
        .limit(top_n)
        .withColumn(
            "rank",
            F.row_number().over(w),
        )
    )


def phrase_search(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase query via positional token joins — the positional-
    postings merge a lexical IR engine runs (complements
    ``inverted_index``/``bm25_rank``, which are bag-of-words only).
    Output: ``(id, n_hits)`` for documents containing the phrase,
    with the exact occurrence count, id asc.

    Each phrase word selects its (doc, position) posting list
    map-side (filter BEFORE any shuffle); consecutive words are
    equi-joined on ``(doc, pos + k)``. With a pre-materialized
    positional index the same joins run against the index table —
    the match path never regex-scans raw text, which is the property
    that scales: per-word posting lists are tiny next to the corpus.
    """
    words = [w for w in phrase.lower().split() if w]
    if not words:
        raise ValueError("phrase must contain at least one word")
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    pos = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(toks).alias("pos", "token"),
    )
    base = pos.filter(F.col("token") == words[0]).select("__id", "pos")
    for k, wd in enumerate(words[1:], start=1):
        nxt = pos.filter(F.col("token") == wd).select(
            "__id", (F.col("pos") - k).alias("pos")
        )
        base = base.join(nxt, ["__id", "pos"])
    return (
        base.groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(F.col("__id").alias(id_col), "n_hits")
        .orderBy(id_col)
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    thresholds_ppm: tuple[int, ...] = (500_000, 900_000, 990_000),
) -> DataFrame:
    """Vocabulary coverage curve: for each mass threshold, the
    smallest top-frequency vocabulary size whose cumulative token
    mass reaches it — the statistic behind vocab-size choices for
    tokenizers and frequency-pruned embeddings. Output:
    ``(threshold_ppm, vocab_size, covered_mass)``, ordered by
    threshold.

    All-integer: the target mass is ``ceil(total · t / 1e6)`` in
    int64 and the cut is the first rank (count desc, token asc — a
    total order) whose running mass reaches it. Rank + running mass
    come from ``windows.global_rank_cumsum`` (two-phase range
    ranking): the vocabulary is orders of magnitude below corpus
    size, but at web scale it is still billions of distinct strings —
    too big for the single-partition window this used to run.
    """
    from .windows import global_rank_cumsum

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = df.select(F.explode(toks).alias("token")).filter(
        F.col("token") != ""
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = global_rank_cumsum(
        counts,
        [F.desc("cnt"), F.asc("token")],
        value_col="cnt",
        rank_col="__r",
        cumsum_col="__cum",
    ).select("cnt", "__r", "__cum").transform(cache_auto)
    total = ranked.agg(F.max("__cum").alias("__t"))
    # one pass for ALL thresholds: explode them against the (1-row)
    # total, broadcast onto the ranked vocab, take min rank per cut
    targets = total.select(
        F.explode(
            F.array(*[F.lit(int(t)) for t in thresholds_ppm])
        ).alias("threshold_ppm"),
        "__t",
    )
    cuts = (
        ranked.crossJoin(F.broadcast(targets))
        .filter(
            F.col("__cum")
            >= F.expr("(__t * threshold_ppm + 999999) div 1000000")
        )
        .groupBy("threshold_ppm")
        .agg(F.min("__r").alias("vocab_size"))
    )
    # re-attach the exact covered mass at the chosen cut
    cum = ranked.select(
        F.col("__r").alias("vocab_size"), F.col("__cum").alias("covered_mass")
    )
    return (
        cuts.join(cum, "vocab_size")
        .select("threshold_ppm", "vocab_size", "covered_mass")
        .orderBy("threshold_ppm")
    )


def top_tokens_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    top_n: int = 5,
) -> DataFrame:
    """Per-group frequent terms: top-N tokens per group value by
    (count desc, token asc) — the grouped counterpart of
    ``frequent_tokens`` (which is corpus-global). Output:
    ``(group, token, cnt, rank)``, ordered.

    Scale shape: tokenize/explode map-side, one (group, token)
    aggregate, one per-group window over the aggregated counts
    (|group×vocab| rows, not corpus rows)."""
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = (
        df.filter(F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("group"),
            F.explode(toks).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    cnt = tok.groupBy("group", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("group").orderBy(
        F.desc("cnt"), F.asc("token")
    )
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .orderBy("group", "rank")
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    max_vocab: int = 200_000,
) -> list[tuple[str, str]]:
    """Train a byte-pair-encoding merge list (Sennrich et al. 2016)
    over the corpus: the distributed step aggregates the token
    stream to the weighted DISTINCT-WORD table (one shuffle; the
    vocabulary is orders of magnitude smaller than the corpus —
    same argument as ``bpe_merge_pairs``), then the merge loop runs
    driver-local over that bounded table — the Lloyd-on-a-sample
    shape IVF training uses: the iterative state (pair counts over
    ≤ ``max_vocab`` words) is kilobytes-to-megabytes at ANY corpus
    size, so iterating it distributed would pay a shuffle per merge
    for no benefit. ``max_vocab`` caps driver memory by keeping the
    most frequent words (count desc, word asc — deterministic).

    Returns the ordered merge list ``[(left, right), ...]`` —
    deterministic: ties in pair count break on (left, right) asc.
    Words are lowercased ``^[a-z]+$`` (the bpe_merge_pairs
    normalization) with an end-of-word marker ``</w>`` on the last
    symbol, the standard boundary treatment.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    words = df.select(F.explode(toks).alias("w")).filter(
        F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 1)
    )
    wc = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(max_vocab)
        .collect()
    )
    # driver-local merge loop over symbol tuples
    vocab: dict[tuple[str, ...], int] = {}
    for r in wc:
        syms = tuple(r["w"][:-1]) + (r["w"][-1] + "</w>",)
        vocab[syms] = vocab.get(syms, 0) + r["cnt"]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + cnt
        if not pairs:
            break
        # deterministic argmax: max count, ties on LOWEST (left, right)
        bc = max(pairs.values())
        left, right = min(p for p, c in pairs.items() if c == bc)
        if bc < 2:
            break
        merges.append((left, right))
        merged = left + right
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + cnt
        vocab = new_vocab
    return merges


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a trained BPE merge list: per word,
    greedily apply the LOWEST-RANK applicable merge until none fits
    (the standard BPE encode), then count subword tokens per doc.
    Output: ``(id, n_bpe_tokens)``.

    The merge table is broadcast (kilobytes); encoding is an
    Arrow-batched pandas UDF — necessarily Python (the merge loop is
    data-dependent iteration no SQL expression covers), batched so
    the interpreter cost amortizes per Arrow batch. Words outside
    the trained normalization (``^[a-z]+$``) count 1 token each.
    """
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    rank = {pair: i for i, pair in enumerate(merges)}
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(rank)

    @pandas_udf("int")
    def encode_count(texts: pd.Series) -> pd.Series:
        import re as _re

        rk = bc.value

        def enc_word(w: str) -> int:
            syms = list(w[:-1]) + [w[-1] + "</w>"]
            while len(syms) > 1:
                cand = [
                    (rk.get((a, b)), i)
                    for i, (a, b) in enumerate(zip(syms, syms[1:]))
                    if (a, b) in rk
                ]
                if not cand:
                    break
                _r, i = min(cand)
                syms[i : i + 2] = [syms[i] + syms[i + 1]]
            return len(syms)

        out = []
        for t in texts:
            if t is None:
                out.append(0)
                continue
            n = 0
            for w in _re.split(r"[ \t\n\r\f\v]+", t.strip().lower()):
                if not w:
                    continue
                n += enc_word(w) if _re.fullmatch(r"[a-z]+", w) else 1
            out.append(n)
        return pd.Series(out, dtype="int32")

    return df.select(
        F.col(id_col), encode_count(F.col(text_col)).alias("n_bpe_tokens")
    )


def sentence_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence segmentation: split ``text_col`` into sentences at
    ``.!?`` terminators, emitting one row per sentence with its
    0-based index — the granularity layer under sentence-level dedup
    and citation-span extraction.

    Pattern policy (the PII-scrub rule): ``[^.!?]+[.!?]*`` — a run of
    non-terminators plus its trailing terminators — lives in the
    Java∩RE2 regex intersection (no lookbehind, which RE2 rejects),
    so a DuckDB oracle replays the exact splits. Sentences are
    trimmed; empty fragments (e.g. between ``..``) are dropped
    BEFORE indexing, so ``sent_idx`` is dense. NULL text yields no
    rows.

    Map-side Generate — no shuffle, no Python.
    """
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), F.lit(0)
            ),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            id_col, F.posexplode(sents).alias("sent_idx", "sentence")
        )
    )


def bow_counts(
    df: DataFrame,
    vocabulary: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bow",
) -> DataFrame:
    """Bag-of-words count vector over an EXPLICIT vocabulary — the
    text twin of ``preprocess.one_hot`` (stable width, out-of-vocab
    tokens ignored) and the bounded-vocabulary complement of
    ``functions.features.feature_hash``. Canonical whitespace
    tokenization; counts, not presence (pair with the TF-IDF gate's
    weighting when needed). NULL text → zero vector. Pure map-side
    array expression — one ``aggregate`` pass over the token array
    updates every vocabulary lane (the minhash signature-fold shape),
    no explode, no shuffle.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )
    vocab_arr = F.array(*[F.lit(v) for v in vocabulary])
    init = F.array(*[F.lit(0)] * len(vocabulary))
    counts = F.aggregate(
        F.coalesce(toks, F.array().cast("array<string>")),
        init,
        lambda acc, t: F.zip_with(
            acc,
            vocab_arr,
            lambda c, v: c + F.when(t == v, 1).otherwise(0),
        ),
    )
    return df.select(F.col(id_col), counts.alias(out_col))


def bpe_train_distributed(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """BPE merge-list training with the per-merge state kept
    DISTRIBUTED — the tier for vocabularies beyond driver memory
    (byte-level multi-script corpora), complementing ``bpe_train``
    (which collects a ``max_vocab``-capped word table and loops
    driver-local, the Lloyd-on-a-sample shape). Here the weighted
    vocabulary table never leaves the cluster; each merge iteration
    is one vocabulary-sized aggregate + a 1-row argmax collect — the
    PageRank driver-loop pattern.

    The merge application is pure JVM string ``replace`` via a
    DOUBLE-separator encoding: word symbols are joined with ``__``
    and wrapped (``hello`` → ``__h__e__l__l__o</w>__``), and merging
    pair (a, b) rewrites ``_a__b_`` → ``_ab_``. Because the pattern
    consumes only the INNER half of each flanking separator, the
    leftover halves act as lookaround anchors: left-to-right
    non-overlapping ``replace`` becomes EXACTLY leftmost-greedy BPE
    merging (including self-overlapping runs like ``aaa``), and the
    identical call exists in any SQL engine — which is what makes
    the training loop oracle-checkable. Equality with the
    driver-local trainer's merge list is property-tested.

    Output: ``(step, sym_left, sym_right, pair_count)`` — the ordered
    merge list with its winning count; ties break (count desc, left
    asc, right asc), binary collation in both engines. Stops early
    when no pair reaches ``min_count``.

    Scale shape: the corpus is scanned ONCE (word aggregate, one
    shuffle); every iteration after that touches only the weighted
    vocabulary table (persisted, re-persisted per merge), with pair
    counts map-side-combined before the one vocabulary shuffle. The
    1-row-per-iteration collect is the same driver action Lloyd/
    PageRank take; num_merges bounds the loop.
    """
    spark = df.sparkSession
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    words = df.select(F.explode(toks).alias("w")).filter(
        F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 1)
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    syms = F.expr(
        "transform(sequence(1, length(w)), i -> "
        "  if(i = length(w),"
        "     concat(substring(w, i, 1), '</w>'),"
        "     substring(w, i, 1)))"
    )
    vocab = wc.select(
        F.concat(
            F.lit("__"), F.array_join(syms, "__"), F.lit("__")
        ).alias("enc"),
        "cnt",
    ).transform(cache_auto)
    pair_struct = F.expr(
        "CASE WHEN size(__ss) >= 2 THEN"
        "  transform(sequence(1, size(__ss) - 1),"
        "            i -> struct(__ss[i-1] AS l, __ss[i] AS r))"
        " ELSE array() END"
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, num_merges + 1):
        pc = (
            vocab.withColumn(
                "__ss", F.expr("filter(split(enc, '_'), x -> x <> '')")
            )
            .select(F.explode(pair_struct).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
            .filter(F.col("pair_count") >= min_count)
        )
        best = (
            pc.orderBy(
                F.desc("pair_count"), F.asc("l"), F.asc("r")
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, count = best[0]["l"], best[0]["r"], best[0]["pair_count"]
        merges.append((step, left, right, int(count)))
        nxt = vocab.select(
            F.replace(
                F.col("enc"),
                F.lit(f"_{left}__{right}_"),
                F.lit(f"_{left}{right}_"),
            ).alias("enc"),
            "cnt",
        ).transform(cache_auto)
        nxt.count()  # materialize before dropping the parent
        vocab.unpersist()
        vocab = nxt
    vocab.unpersist()
    return spark.createDataFrame(
        merges,
        "step int, sym_left string, sym_right string, pair_count bigint",
    )


def bpe_encode_expr(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE ENCODING as a pure JVM expression — the oracle-checkable
    twin of ``bpe_apply`` (pandas-UDF tier): subword-nmt's encode is
    "apply each learned merge, in rank order, to all occurrences",
    which under the double-separator encoding (see
    ``bpe_train_distributed``) is literally a CHAIN of string
    ``replace`` calls — leftmost-greedy per merge, rank order across
    merges, exactly the semantics of the rank-priority loop in
    ``bpe_apply`` (all rank-r merges happen before any rank-r+1
    merge either way; property-tested equal).

    Output: ``(id, n_bpe_tokens)`` — per-doc subword token count;
    words outside the trained normalization (``^[a-z]+$``) count 1,
    matching ``bpe_apply``. Map-side only, whole-stage codegen; the
    expression depth grows with the merge-list length, so this tier
    fits serving a SMALL high-frequency merge list (the 80/20 of
    subword compression) — ``bpe_apply`` remains the tier for
    full-size vocabularies.
    """
    for left, right in merges:
        if not all(
            c.isascii() and (c.islower() or c in "</w>")
            for c in left + right
        ):
            raise ValueError(f"unexpected merge symbols: {left!r} {right!r}")
    # '__h__e__l__l__o</w>__' — end-of-word marker on the last symbol
    enc = (
        "concat('__', regexp_replace(substring(w, 1, length(w) - 1),"
        " '(.)', '$1__'), substring(w, length(w), 1), '</w>__')"
    )
    chain = enc
    for left, right in merges:
        chain = (
            f"replace({chain}, '_{left}__{right}_', '_{left}{right}_')"
        )
    words_expr = F.expr(
        f"""aggregate(
              filter(split(trim(lower({text_col})), '\\\\s+'),
                     x -> x <> ''),
              0,
              (acc, w) -> acc + IF(
                w rlike '^[a-z]+$',
                size(filter(split({chain}, '_'), x -> x <> '')),
                1))"""
    )
    return df.select(
        F.col(id_col), words_expr.cast("int").alias("n_bpe_tokens")
    )


def linear_classifier_twin(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 32,
    weight_scale: int = 1000,
) -> DataFrame:
    """Deterministic twin of ``linear_text_classifier`` — the same
    architecture (tokens hashed to weight buckets, mean bucket weight
    as the document logit, sign threshold as the keep decision) with
    md5 hashing and md5-derived integer MILLI-weights, so an
    independent SQL engine reproduces every decision value-for-value
    (the embed-twin program applied to the learned-quality-filter
    family; the production tier keeps its trained weights and numpy
    hash).

    All-integer pipeline: per-token weight ∈ [0, 2·scale] (shifted
    non-negative so the one integer division is over non-negatives —
    Spark ``div`` truncates toward zero while DuckDB ``//`` floors,
    and they only agree on non-negative operands), floor-mean, then
    the shift removed: ``logit_milli = (Σ w')/n − scale``;
    ``keep = logit_milli ≥ 0``. One aggregate fold over the token
    array — no UDF, no explode, no shuffle.
    """
    mod = 2 * weight_scale + 1
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )

    def w_shifted(tok: Column) -> Column:
        bucket = F.conv(
            F.substring(F.md5(tok), 1, 14), 16, 10
        ).cast("long") % buckets
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w:"), bucket.cast("string"))),
                    1,
                    14,
                ),
                16,
                10,
            ).cast("long")
            % mod
        )

    summed = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + w_shifted(t)
    )
    n = F.size(toks)
    # exact floor division via the mod identity: (s - s%n) is an exact
    # multiple of n and s ≤ n·2·scale stays far under 2^53, so the
    # double division is exact and the cast is lossless
    out = df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.when(
            n > 0,
            (summed - (summed % n)) / n - F.lit(weight_scale),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("logit_milli"),
    ).withColumn("keep", F.col("logit_milli") >= 0)
    return out.orderBy(id_col)


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021, §A1.1, Table A1) — the
# within-document repetition family that complements gopher_quality_flags'
# length/symbol gates and top_ngram_fraction's occurrence share. All
# integer arithmetic (counts, lengths, floor-div ppm), so every signal
# is oracle-replayable; all shuffles key on the document id.
# ---------------------------------------------------------------------------


def duplicate_line_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_regex: str = "\n",
) -> DataFrame:
    """Duplicate-line fraction + duplicate-line CHARACTER fraction per
    document (Gopher filters docs above 30% / 20%; the paragraph
    variants are the same computation with ``sep_regex='\\n{2,}'``).

    A line occurrence counts as duplicate when the same content
    already occurred in the document — the beyond-first-occurrence
    convention, so a line appearing c times contributes c-1 duplicate
    occurrences (and (c-1)*len duplicate characters). Empty lines
    count like any other line (their char mass is 0 either way).

    One shuffle (doc+line group), one doc-keyed reaggregate. Output:
    (id, n_lines, n_dup_lines, dup_line_ppm, n_line_chars,
    n_dup_line_chars, dup_line_char_ppm).
    """
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), sep_regex, -1)).alias("line"),
    )
    g = (
        lines.groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("llen", F.length("line").cast("long"))
    )
    out = g.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("cnt") - 1).alias("n_dup_lines"),
        F.sum(F.col("cnt") * F.col("llen")).alias("n_line_chars"),
        F.sum((F.col("cnt") - 1) * F.col("llen")).alias(
            "n_dup_line_chars"
        ),
    )
    return out.select(
        id_col,
        "n_lines",
        "n_dup_lines",
        F.expr("n_dup_lines * 1000000 div n_lines").alias("dup_line_ppm"),
        "n_line_chars",
        "n_dup_line_chars",
        F.when(
            F.col("n_line_chars") > 0,
            F.expr("n_dup_line_chars * 1000000 div n_line_chars"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_line_char_ppm"),
    )


def _canonical_tokens(text_col: str) -> Column:
    """Whitespace tokens of the trimmed text — the shared token stream
    for the n-gram repetition signals. The 'canonical text' these
    signals measure characters against is the tokens joined by single
    spaces (deterministic regardless of the original run lengths)."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def top_ngram_char_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Fraction of characters occupied by the most common word n-gram
    (Gopher filters at 20%/18%/16% for n=2/3/4): occurrences × gram
    length over canonical-text length, in ppm — the published
    count·len convention, which counts OVERLAPPING occurrences at
    full gram length ('a a a a' at n=2 covers 9 of 7 chars), so the
    raw ratio is unbounded above 1e6; the output clamps at 1e6 to
    keep the [0, 1e6] fraction contract (the filter thresholds sit
    far below the clamp). Ties on count break to the
    lexicographically smallest gram; docs with < n tokens emit ppm 0
    with an empty gram.

    Differs from ``top_ngram_fraction`` (occurrence SHARE of gram
    instances) — this is the character-occupancy variant Table A1
    actually specifies.
    """
    from pyspark.sql.window import Window

    from .dedup import word_ngrams

    toks = _canonical_tokens(text_col)
    totals = df.select(
        F.col(id_col),
        F.length(F.array_join(toks, " ")).cast("long").alias("total_chars"),
    )
    grams = df.select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n, distinct=False)).alias("gram"),
    )
    counts = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("gram"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("gram").alias("top_gram"),
            F.col("cnt").alias("top_cnt"),
        )
    )
    joined = totals.join(top, id_col, "left")
    return joined.select(
        id_col,
        F.coalesce("top_gram", F.lit("")).alias("top_gram"),
        F.coalesce("top_cnt", F.lit(0)).cast("long").alias("top_cnt"),
        "total_chars",
        F.when(
            (F.col("total_chars") > 0) & F.col("top_cnt").isNotNull(),
            F.least(
                F.expr(
                    "coalesce(top_cnt, 0) * length(coalesce(top_gram, ''))"
                    " * 1000000 div total_chars"
                ),
                F.lit(1_000_000).cast("long"),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("top_ngram_char_ppm"),
    )


def duplicate_ngram_char_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Fraction of characters covered by word n-grams that occur MORE
    THAN ONCE in the document (Gopher filters at 15%..10% for
    n=5..10), overlapping occurrences counted once — the
    interval-union semantics the published pipelines implement.

    Relational shape (every step doc-keyed):
    1. token stream with canonical char positions (posexplode + one
       partitioned-window prefix sum);
    2. gram occurrences with their token index (map-side transform —
       no explode before the count);
    3. occurrences of duplicated grams become [start, end) intervals
       via two co-keyed joins back to the token positions;
    4. merged-interval length per doc = the classic running-max sweep
       (partitioned window), summed.

    Output: (id, covered_chars, total_chars, dup_ngram_char_ppm).
    """
    from pyspark.sql.window import Window

    toks = _canonical_tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__toks")).filter(
        F.size("__toks") >= n
    )
    # 1. token positions in the canonical (single-space-joined) text
    t = base.select(
        id_col, F.posexplode("__toks").alias("idx", "tok")
    ).select(id_col, "idx", F.length("tok").cast("long").alias("tl"))
    wt = Window.partitionBy(id_col).orderBy("idx")
    t = t.withColumn(
        "end_char", F.sum(F.col("tl") + 1).over(wt) - 1
    ).withColumn("start_char", F.col("end_char") - F.col("tl"))
    # 2. gram occurrences (gram text + token index)
    gram_at = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - n),
        lambda i: F.array_join(F.slice("__toks", i + 1, n), " "),
    )
    occ = base.select(
        id_col, F.posexplode(gram_at).alias("gidx", "gram")
    )
    wg = Window.partitionBy(id_col, "gram")
    dup_occ = occ.withColumn("cnt", F.count(F.lit(1)).over(wg)).filter(
        F.col("cnt") > 1
    )
    # 3. intervals [start of token gidx, end of token gidx+n-1)
    iv = (
        dup_occ.join(
            t.select(id_col, F.col("idx").alias("gidx"), "start_char"),
            [id_col, "gidx"],
        )
        .join(
            t.select(
                id_col,
                (F.col("idx") - (n - 1)).alias("gidx"),
                F.col("end_char").alias("g_end"),
            ),
            [id_col, "gidx"],
        )
        .select(id_col, F.col("start_char").alias("s"), F.col("g_end").alias("e"))
    )
    # 4. union-of-intervals sweep
    ws = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max = F.max("e").over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.col("e") - F.greatest(F.col("s"), F.coalesce(prev_max, F.col("s"))),
    )
    covered = iv.select(id_col, contrib.alias("c")).groupBy(id_col).agg(
        F.sum("c").alias("covered_chars")
    )
    totals = df.select(
        F.col(id_col),
        F.length(F.array_join(toks, " ")).cast("long").alias("total_chars"),
    )
    out = totals.join(covered, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("covered_chars", F.lit(0)).cast("long").alias(
            "covered_chars"
        ),
        "total_chars",
        F.when(
            F.col("total_chars") > 0,
            F.expr(
                "coalesce(covered_chars, 0) * 1000000 div total_chars"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_ngram_char_ppm"),
    )


# --------------------------------------------------- unigram-LM tokenizer


def _viterbi_split(
    word: str, scores: dict, max_piece_len: int, banned: str | None = None
):
    """Best unigram-LM segmentation of one word (Kudo 2018 §3.1):
    maximize the sum of integer micro-log piece scores by positional
    DP. Tie rule (mirrored EXACTLY by the generated SQL replay):
    candidate piece lengths are tried ASCENDING with a strict '>'
    update, so the SHORTEST last piece wins score ties. Returns the
    piece list, or None when no path exists (impossible once every
    single character is in the vocabulary). ``banned`` excludes one
    piece from the vocabulary for this call — the likelihood-loss
    prune's what-if segmentation (see ``_viterbi_score``)."""
    n = len(word)
    dp = [None] * (n + 1)
    bp = [0] * (n + 1)
    dp[0] = 0
    for j in range(1, n + 1):
        best = None
        bb = 0
        for plen in range(1, min(max_piece_len, j) + 1):
            prev = dp[j - plen]
            if prev is None:
                continue
            piece = word[j - plen : j]
            if piece == banned:
                continue
            s = scores.get(piece)
            if s is None:
                continue
            cand = prev + s
            if best is None or cand > best:
                best, bb = cand, plen
        dp[j] = best
        bp[j] = bb
    if dp[n] is None:
        return None
    out = []
    j = n
    while j > 0:
        out.append(word[j - bp[j] : j])
        j -= bp[j]
    out.reverse()
    return out


def _viterbi_score(
    word: str, scores: dict, max_piece_len: int, banned: str | None = None
):
    """Best segmentation SCORE only (no backtrack) — the loss prune's
    inner call; same DP and integer arithmetic as ``_viterbi_split``.
    Returns None when no path exists."""
    n = len(word)
    dp = [None] * (n + 1)
    dp[0] = 0
    for j in range(1, n + 1):
        best = None
        for plen in range(1, min(max_piece_len, j) + 1):
            prev = dp[j - plen]
            if prev is None:
                continue
            piece = word[j - plen : j]
            if piece == banned:
                continue
            s = scores.get(piece)
            if s is None:
                continue
            cand = prev + s
            if best is None or cand > best:
                best = cand
        dp[j] = best
    return dp[n]


def _unigram_word_table(df: DataFrame, text_col: str) -> DataFrame:
    """(w, cnt) weighted vocabulary — the same lowercase ^[a-z]+$ word
    prep as the BPE trainers, aggregated corpus-wide in one shuffle."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return (
        df.select(F.explode(toks).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _unigram_lp6(pieces: DataFrame, total: int | None = None) -> DataFrame:
    """Attach integer micro-log probabilities: lp6 =
    round(ln(freq / total) * 1e6) — the bigram-perplexity micro-log
    policy, reproducible across engines. One 1-row broadcast attach;
    when the caller already holds the EXACT integer total (the EM
    rounds' piece pools are driver lists, so Σfreq is a Python sum) it
    is inlined as a literal instead — same Divide(long, long) → double
    → ln → round chain evaluated by the same engine, so the lp6
    values are bit-identical, without the aggregate+cross-join job."""
    if total is not None:
        tot = F.lit(int(total)).cast("long")
        return pieces.select(
            "piece",
            "freq",
            F.round(F.log(F.col("freq") / tot) * 1e6, 0)
            .cast("long")
            .alias("lp6"),
        )
    total_df = pieces.agg(F.sum("freq").alias("__tot"))
    return pieces.crossJoin(F.broadcast(total_df)).select(
        "piece",
        "freq",
        F.round(F.log(F.col("freq") / F.col("__tot")) * 1e6, 0)
        .cast("long")
        .alias("lp6"),
    )


def unigram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 48,
    iters: int = 2,
    max_piece_len: int = 4,
    seed_pool: int | None = None,
    prune: str = "freq",
    shrink_factor: float | None = None,
) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018)
    re-expressed Spark-first — the subword family BPE doesn't cover
    (probabilistic segmentation; reference-class pipelines train both).

    Shape per EM round (the Lloyd/PageRank driver-loop pattern):

    1. the weighted WORD table is built once (one corpus shuffle) and
       reused every round — corpus text is never rescanned;
    2. E-step: Viterbi-segment every distinct word under the current
       integer micro-log piece scores inside ``mapInPandas`` — the
       piece table is the broadcast value (bounded by ``seed_pool``,
       the Lloyd-on-a-sample argument), the WORD table stays
       distributed, so the step is map-side + one piece-keyed
       aggregate of usage counts;
    3. M-step: piece frequency = Viterbi usage (multi-char pieces with
       zero usage drop out; single characters always survive with
       add-one smoothing so every word stays segmentable — the
       coverage guarantee SentencePiece gets from its character
       fallback).

    Seeding: all substrings of length 1..``max_piece_len`` weighted by
    word count; single chars + the top ``seed_pool`` (default
    3×vocab_size) multi-char pieces by (freq DESC, piece ASC). Final
    prune keeps singles + the top (vocab_size − n_singles) multi-char
    pieces, then recomputes lp6 over the pruned set.

    ``prune`` selects the final multi-char cut:

    - ``"freq"`` (default, the original tier): rank by Viterbi usage
      frequency (freq DESC, piece ASC);
    - ``"loss"`` (SentencePiece-faithful, Kudo 2018 §3.2 / the
      SentencePiece prune step): rank by LIKELIHOOD LOSS — for every
      word whose best path uses piece p, re-segment with p banned;
      loss(p) = Σ_w cnt_w · (best6(w) − alt6(w)), the integer
      micro-log corpus-likelihood drop if p were removed. Pieces the
      corpus can cheaply re-segment around are pruned first even
      when frequent — the criterion SentencePiece actually uses
      (frequency ranking keeps substitutable pieces). One extra
      distributed what-if pass over the WORD table (cost: path length
      × one banned DP per word, map-side + a piece-keyed aggregate);
      ranking is (loss6 DESC, freq DESC, piece ASC) — loss ties
      (e.g. never-used survivors at loss 0) fall back to the freq
      tier's order, so the two tiers differ exactly where the loss
      signal says they should.

    ``shrink_factor`` (loss mode only) runs SentencePiece's ACTUAL
    training loop — prune BETWEEN EM rounds, not once at the end
    (Kudo §3.2 step 3: keep the top ``shrink_factor`` fraction of the
    pool by likelihood loss after each round, re-EM over the shrunk
    pool, repeat; the final round cuts straight to ``vocab_size``).
    The intermediate prunes let the surviving pieces re-absorb the
    pruned pieces' probability mass before the next cut — the reason
    one-shot pruning can select a worse vocabulary. One loss pass per
    round (map-side what-if DP + a piece-keyed aggregate).

    Everything is deterministic (integer micro-log scores, total
    orders on every cut, the shortest-last-piece Viterbi tie rule), so
    the whole trainer — seed, E/M rounds, prune — replays as one
    generated DuckDB query; the gate grades the FINAL (piece, freq,
    lp6) table by value hash.

    Output: (piece, freq, lp6), ordered by piece.
    """
    import pandas as pd

    if vocab_size < 1 or iters < 0 or max_piece_len < 1:
        raise ValueError("vocab_size >= 1, iters >= 0, max_piece_len >= 1")
    if prune not in ("freq", "loss"):
        raise ValueError("prune must be 'freq' or 'loss'")
    if shrink_factor is not None:
        if prune != "loss":
            raise ValueError("shrink_factor requires prune='loss'")
        if not 0.0 < shrink_factor <= 1.0:
            raise ValueError("shrink_factor must be in (0, 1]")
    spark = df.sparkSession
    pool = seed_pool if seed_pool is not None else vocab_size * 3
    wc = _unigram_word_table(df, text_col).transform(cache_auto)
    # Bounded-probe driver fast tier (the connected_components
    # small-graph pattern): the EM loop's unit of work is the DISTINCT
    # weighted word, and word tables are tiny relative to corpora
    # (token mass collapses onto repeated words). When the table fits
    # the budget it is collected ONCE and every E-step / loss pass
    # runs in-process over the SAME ``_viterbi_split`` the distributed
    # path broadcasts — integer usage/loss sums are order-independent,
    # so the counts are identical and the per-round
    # mapInPandas+aggregate+collect jobs (pure scheduling at this
    # grain) disappear. Past the budget the distributed path below is
    # unchanged — at 100 TB the word table stays distributed.
    probe = wc.limit(_UNIGRAM_DRIVER_BUDGET + 1).collect()
    local_wc = (
        [(r["w"], int(r["cnt"])) for r in probe]
        if len(probe) <= _UNIGRAM_DRIVER_BUDGET
        else None
    )

    subs = F.expr(
        f"flatten(transform(sequence(1, {int(max_piece_len)}), l -> "
        "if(length(w) >= l, "
        "   transform(sequence(1, length(w) - l + 1), "
        "             i -> substring(w, i, l)), "
        "   cast(array() as array<string>))))"
    )
    seed = (
        wc.select(F.explode(subs).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("freq"))
    )
    singles = seed.filter(F.length("piece") == 1)
    multi = (
        seed.filter(F.length("piece") > 1)
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(pool)
    )
    pieces = singles.unionByName(multi)

    def em_usage(piece_rows) -> dict:
        scores = {r["piece"]: r["lp6"] for r in piece_rows}
        if local_wc is not None:
            use: dict = {}
            for w, cnt in local_wc:
                segs = _viterbi_split(w, scores, max_piece_len)
                if segs is None:
                    continue
                for p in segs:
                    use[p] = use.get(p, 0) + cnt
            return use
        bc = spark.sparkContext.broadcast(scores)

        def op(batches):
            sc = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                use: dict = {}
                for w, cnt in zip(pdf["w"], pdf["cnt"]):
                    segs = _viterbi_split(w, sc, max_piece_len)
                    if segs is None:
                        continue
                    for p in segs:
                        use[p] = use.get(p, 0) + int(cnt)
                if use:
                    yield pd.DataFrame(
                        {"piece": list(use), "use_cnt": list(use.values())}
                    )

        local = wc.mapInPandas(op, "piece string, use_cnt long")
        return {
            r["piece"]: r["use_cnt"]
            for r in local.groupBy("piece")
            .agg(F.sum("use_cnt").alias("use_cnt"))
            .collect()
        }

    def loss_table(piece_rows) -> dict:
        """Per-piece likelihood loss under the given scored pool: one
        map-side what-if pass over the WORD table (ban each distinct
        multi-char piece of the word's best path, re-segment) + a
        piece-keyed aggregate; bounded collect (≤ pool rows). Runs
        in-process on the driver tier (same arithmetic, same
        ``_viterbi_split``/``_viterbi_score``)."""
        scores = {r["piece"]: r["lp6"] for r in piece_rows}
        if local_wc is not None:
            loss: dict = {}
            for w, cnt in local_wc:
                segs = _viterbi_split(w, scores, max_piece_len)
                if segs is None:
                    continue
                best6 = sum(scores[p] for p in segs)
                for p in set(segs):
                    if len(p) == 1:
                        continue
                    alt6 = _viterbi_score(
                        w, scores, max_piece_len, banned=p
                    )
                    loss[p] = loss.get(p, 0) + cnt * (best6 - alt6)
            return loss
        bc = spark.sparkContext.broadcast(scores)

        def loss_op(batches):
            sc = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                loss: dict = {}
                for w, cnt in zip(pdf["w"], pdf["cnt"]):
                    segs = _viterbi_split(w, sc, max_piece_len)
                    if segs is None:
                        continue
                    best6 = sum(sc[p] for p in segs)
                    for p in set(segs):
                        if len(p) == 1:
                            continue
                        alt6 = _viterbi_score(
                            w, sc, max_piece_len, banned=p
                        )
                        loss[p] = loss.get(p, 0) + int(cnt) * (
                            best6 - alt6
                        )
                if loss:
                    yield pd.DataFrame(
                        {
                            "piece": list(loss),
                            "loss6": list(loss.values()),
                        }
                    )

        return {
            r["piece"]: r["loss6"]
            for r in wc.mapInPandas(loss_op, "piece string, loss6 long")
            .groupBy("piece")
            .agg(F.sum("loss6").alias("loss6"))
            .collect()
        }

    def loss_ranked_multi(piece_rows, loss6: dict) -> list:
        """Multi-char (piece, freq) pairs, best-to-worst by the prune
        criterion (loss6 DESC, freq DESC, piece ASC)."""
        return sorted(
            (
                (r["piece"], r["freq"])
                for r in piece_rows
                if len(r["piece"]) > 1
            ),
            key=lambda t: (-loss6.get(t[0], 0), -t[1], t[0]),
        )

    import math as _math

    shrinking = prune == "loss" and shrink_factor is not None
    # after the first M-step the piece pool is a DRIVER list (the
    # createDataFrame below) — its Σfreq is then an exact Python
    # integer, so every later lp6 pass inlines the total instead of
    # paying an aggregate + cross-join job over a local relation, and
    # the final filter/sort/limit assembly runs in-process (same
    # total orders). Only the SEED pool (round 0 / iters == 0) is a
    # distributed relation and keeps the aggregate path.
    local_pieces: list | None = None

    def lp6_of(rel: DataFrame) -> DataFrame:
        tot = (
            sum(f for _, f in local_pieces)
            if local_pieces is not None
            else None
        )
        return _unigram_lp6(rel, total=tot)

    for rnd in range(iters):
        # bounded collects: the piece pool (≤ singles + seed_pool
        # rows) is the broadcast model, exactly like the IVF centroid
        # table — and making each round EAGER here keeps the E-step
        # out of the returned plan's lineage (lazy rounds re-ran the
        # corpus-wide Viterbi pass on every downstream action)
        scored_rows = lp6_of(pieces).collect()
        use = em_usage(scored_rows)
        new_rows = []
        for r in scored_rows:
            p = r["piece"]
            freq = use.get(p, 0) + (1 if len(p) == 1 else 0)
            if freq > 0:
                new_rows.append((p, freq))
        pieces = spark.createDataFrame(
            new_rows, "piece string, freq long"
        )
        local_pieces = new_rows
        if shrinking:
            # SentencePiece's per-round prune: loss under the POST-M
            # distribution, keep top shrink_factor of the multi pool
            # (never below the final target); the LAST round cuts
            # straight to the target
            post_rows = lp6_of(pieces).collect()
            loss6 = loss_table(post_rows)
            n_singles_r = sum(
                1 for r in post_rows if len(r["piece"]) == 1
            )
            target = max(0, vocab_size - n_singles_r)
            multi = loss_ranked_multi(post_rows, loss6)
            if rnd == iters - 1:
                keep = target
            else:
                keep = max(
                    target, _math.ceil(len(multi) * shrink_factor)
                )
            kept = [
                (r["piece"], r["freq"])
                for r in post_rows
                if len(r["piece"]) == 1
            ] + multi[:keep]
            pieces = spark.createDataFrame(
                kept, "piece string, freq long"
            )
            local_pieces = kept

    if shrinking and iters > 0:
        out = lp6_of(pieces).orderBy("piece")
        wc.unpersist()
        return out

    if local_pieces is not None:
        # driver-side final assembly over the in-hand pool: the same
        # (length == 1) split, (freq DESC, piece ASC) multi order and
        # vocab cut as the relational branch below, without the count
        # job + filter/sort/limit plans over a local relation
        singles_rows = [(p, f) for p, f in local_pieces if len(p) == 1]
        keep_n = max(0, vocab_size - len(singles_rows))
        if prune == "loss":
            scored_rows = lp6_of(pieces).collect()
            multi = loss_ranked_multi(
                scored_rows, loss_table(scored_rows)
            )
        else:
            multi = sorted(
                ((p, f) for p, f in local_pieces if len(p) > 1),
                key=lambda t: (-t[1], t[0]),
            )
        final_rows = singles_rows + multi[:keep_n]
        local_pieces = final_rows
        out = lp6_of(
            spark.createDataFrame(final_rows, "piece string, freq long")
        ).orderBy("piece")
        wc.unpersist()
        return out

    final_singles = pieces.filter(F.length("piece") == 1)
    n_singles = final_singles.count()
    keep_multi = max(0, vocab_size - n_singles)
    multi_pool = pieces.filter(F.length("piece") > 1)
    if prune == "loss":
        # ONE-SHOT loss prune under the POST-EM piece distribution
        # (the shrink-cycle path above is the per-round variant; this
        # runs when shrink_factor is None, or iters == 0). The banned
        # DP always completes — every single char is in the
        # vocabulary. Eager, bounded collects, while wc is cached.
        scored_rows = _unigram_lp6(pieces).collect()
        multi = loss_ranked_multi(scored_rows, loss_table(scored_rows))
        kept_multi = spark.createDataFrame(
            multi[:keep_multi], "piece string, freq long"
        )
    else:
        kept_multi = multi_pool.orderBy(
            F.desc("freq"), F.asc("piece")
        ).limit(keep_multi)
    final = final_singles.unionByName(kept_multi)
    out = _unigram_lp6(final).orderBy("piece")
    wc.unpersist()
    return out


def unigram_viterbi_encode(
    df: DataFrame,
    pieces: list | DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
) -> DataFrame:
    """Encode documents with a trained unigram-LM vocabulary: each
    word Viterbi-segmented under the integer micro-log scores
    (broadcast piece table, Arrow-batched — the bpe_apply serving
    shape). Output per document: (id, n_pieces, score6) where score6
    is the summed micro-log likelihood of the chosen segmentation —
    the quantity SentencePiece's sampling/pruning reasons about.
    Words outside the trained character set count 0 pieces (same
    skip contract as the trainer's E-step)."""
    import pandas as pd

    if isinstance(pieces, DataFrame):
        pieces = pieces.collect()
    scores = {r["piece"]: r["lp6"] for r in pieces}
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(scores)
    id_type = df.schema[id_col].dataType.simpleString()

    def op(batches):
        import re

        # the trainers' exact word contract: ASCII-whitespace split
        # (Java/RE2 \s does NOT split NBSP — the TokenWindows lesson)
        # + the ^[a-z]+$ admission regex
        ws = re.compile(r"[ \t\n\r\f\v]+")
        word_re = re.compile(r"[a-z]+\Z")
        sc = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n_out = []
            s_out = []
            for text in pdf[text_col]:
                n = 0
                s = 0
                for w in ws.split(str(text or "").lower().strip()):
                    if not word_re.fullmatch(w):
                        continue
                    segs = _viterbi_split(w, sc, max_piece_len)
                    if segs is None:
                        continue
                    n += len(segs)
                    s += sum(sc[p] for p in segs)
                n_out.append(n)
                s_out.append(s)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_pieces": n_out,
                    "score6": s_out,
                }
            )

    return (
        df.select(id_col, text_col)
        .mapInPandas(op, f"{id_col} {id_type}, n_pieces long, score6 long")
        .orderBy(id_col)
    )


# round(ln(0.4) * 1e6): the Stupid Backoff discount per backoff step,
# pre-rounded to the micro-log grid so backed-off scores stay integer
# sums of integers (ln(a*b) = ln a + ln b, each term rounded once —
# the spec both engines replay).
_SB_ALPHA6 = -916291

# Model-row budget for the scorer's driver fast tier (the unigram
# trainer's bounded-probe pattern): ARPA-analog model tables at or
# under this row count are collected once and the backoff lookup runs
# in one Arrow mapInPandas pass; larger models keep the distributed
# suffix-join path.
_NGLM_DRIVER_BUDGET = 200_000


def ngram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Train an order-``n`` count LM with Stupid Backoff conditionals
    — the KenLM role in a CCNet-style pipeline (train the LM on a
    clean corpus, score ANY other corpus's documents by perplexity;
    the reference repo has no LM at all, and ``bigram_perplexity``
    here only scores a corpus under ITSELF). Brants et al. 2007
    ("Large Language Models in Machine Translation") is the backoff
    scheme: S(w|ctx) = cnt(ctx·w)/cnt(ctx) when seen, else
    alpha * S(w|shorter ctx), alpha = 0.4 — no discounting, which is
    exactly what makes it MapReduce/Spark-friendly (pure count
    ratios, no iterative normalization).

    Token stream per document: lowercase whitespace tokens padded
    with (n-1) ``<s>`` sentinels and one ``</s>`` — every real token
    and the EOS gets a full-order context. Blank/NULL documents are
    dropped. Counts: order-o grams over all positions of the padded
    stream (o = 1..n); N = total padded unigram count.

    Output — the ARPA-file analog, one relation: ``(order, w1, ...,
    wn, cnt, lp6)`` where lp6 is the order's conditional micro-log
    (``round(ln(cnt(gram)/cnt(context)) * 1e6)`` as long; order 1
    conditions on N; the single order=0 row carries cnt=N and the
    OOV floor lp6 = round(ln(1/N)*1e6)). Integer micro-logs are the
    cross-engine determinism policy of ``bigram_perplexity`` /
    ``unigram_lm_train``: DuckDB replays every row by value.

    100 TB shape: tokenize+explode is map-side in the reading scan;
    each order is one hash aggregation on its gram key; the
    conditional attach is one join of the order-o table to the
    order-(o-1) table on the context prefix (gram-keyed, AQE-sized);
    N is a 1-row broadcast. The artifact is vocabulary-sized (grams
    actually seen), not corpus-sized, and parquet-storable.
    """
    if n < 2 or n > 5:
        raise ValueError("ngram_lm_train supports n in 2..5")
    low = F.trim(F.lower(F.col(text_col)))
    toks = F.split(low, r"\s+")
    padded = F.concat(
        F.array(*[F.lit("<s>") for _ in range(n - 1)]),
        toks,
        F.array(F.lit("</s>")),
    )
    st = (
        df.filter(F.col(text_col).isNotNull())
        .filter(low != "")
        .select(padded.alias("s"))
        .transform(cache_auto)
    )
    wcols = [f"w{i}" for i in range(1, n + 1)]
    sz = F.size("s")

    def grams(order: int) -> DataFrame:
        zipped = F.arrays_zip(
            *[
                F.slice("s", i + 1, sz - (order - 1)).alias(wcols[i])
                for i in range(order)
            ]
        )
        g = st.select(F.explode(zipped).alias("g"))
        return g.select(
            *[F.col(f"g.{wcols[i]}").alias(wcols[i]) for i in range(order)]
        ).groupBy(*wcols[:order]).agg(F.count(F.lit(1)).alias("cnt"))

    counts = {o: grams(o) for o in range(1, n + 1)}
    total = counts[1].agg(F.sum("cnt").alias("n_tot"))

    def lp6(num, den) -> Column:
        return (
            F.round(F.log(num.cast("double") / den) * 1e6, 0)
            .cast("long")
            .alias("lp6")
        )

    def pad(dfo: DataFrame, order: int) -> DataFrame:
        cols = [F.lit(order).cast("int").alias("order")]
        cols += [F.col(w) for w in wcols[:order]]
        cols += [F.lit(None).cast("string").alias(w) for w in wcols[order:]]
        return dfo.select(*cols, "cnt", "lp6")

    parts = []
    for o in range(n, 1, -1):
        ctx = counts[o - 1].select(
            *[F.col(wcols[i]).alias(wcols[i]) for i in range(o - 1)],
            F.col("cnt").alias("__ctx"),
        )
        scored = counts[o].join(ctx, wcols[: o - 1]).select(
            *wcols[:o], "cnt", lp6(F.col("cnt"), F.col("__ctx"))
        )
        parts.append(pad(scored, o))
    uni = counts[1].crossJoin(F.broadcast(total)).select(
        "w1", "cnt", lp6(F.col("cnt"), F.col("n_tot"))
    )
    parts.append(pad(uni, 1))
    floor = total.select(
        F.lit(0).cast("int").alias("order"),
        *[F.lit(None).cast("string").alias(w) for w in wcols],
        F.col("n_tot").alias("cnt"),
        F.round(F.log(F.lit(1.0) / F.col("n_tot")) * 1e6, 0)
        .cast("long")
        .alias("lp6"),
    )
    parts.append(floor)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # st stays persisted: the returned relation reads it once per
    # order branch when the CONSUMER first acts (unpersisting here
    # would silently re-tokenize the corpus per branch — the
    # bigram_perplexity persist policy; LRU eviction reclaims it)
    return out


def ngram_lm_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha6: int = _SB_ALPHA6,
) -> DataFrame:
    """Score documents under a trained ``ngram_lm_train`` model —
    Stupid Backoff with constant micro-log discount ``alpha6`` per
    backoff step: a scored event (one padded order-n gram) costs the
    highest-order conditional that exists, plus ``alpha6`` per level
    it backed off; a fully-unseen word costs the OOV floor
    ``ln(1/N)`` after (n-1) backoffs. The CCNet deployment shape:
    the model corpus and the scored corpus are DIFFERENT relations.

    Output: ``(id_col, n_events, s6, ppl)`` — n_events = tokens + 1
    (each real token and the EOS is one event), s6 the exact integer
    micro-log sum (order-independent: Spark and DuckDB agree on it
    bit-for-bit, the bigram_perplexity policy), ppl =
    round(exp(-s6 / (n_events*1e6)), 4).

    100 TB shape: events are map-side; scoring is one left join per
    model order on the gram suffix key (n-1 joins + one 1-row
    broadcast for the floor) against the vocabulary-sized model;
    the per-doc rollup is one hash aggregation. No UDFs, no driver
    data. The model is vocabulary-sized, so it is persisted for the
    duration of the call (each order's sub-relation plus the floor
    reads the cache instead of re-running the trainer's gram
    aggregations per reference), and when it fits
    ``_NGLM_DRIVER_BUDGET`` it is collected ONCE and the whole
    backoff chain runs as one Arrow ``mapInPandas`` pass over the
    padded token arrays — the n-1 suffix joins and the per-doc
    aggregate collapse into map-side dict lookups with the SAME
    integer arithmetic (order-independent integer sums, the
    bigram_perplexity policy), and the per-event enumeration is the
    same ``s[i:i+n]`` window ``arrays_zip``+``slice`` produces.
    Larger models keep the distributed joins — at 100 TB the model
    stays distributed.
    """
    model = model.transform(cache_auto)
    n_model = model.limit(_NGLM_DRIVER_BUDGET + 1).count()
    local_model = (
        model.collect() if n_model <= _NGLM_DRIVER_BUDGET else None
    )
    if local_model is not None:
        orders = sorted({r["order"] for r in local_model})
        model.unpersist()
    else:
        orders = [
            r["order"]
            for r in model.select("order").distinct().collect()
        ]
    nmax = max(orders)
    if nmax < 2 or 0 not in orders:
        raise ValueError("model must be an ngram_lm_train artifact")
    wcols = [f"w{i}" for i in range(1, nmax + 1)]
    low = F.trim(F.lower(F.col(text_col)))
    toks = F.split(low, r"\s+")
    padded = F.concat(
        F.array(*[F.lit("<s>") for _ in range(nmax - 1)]),
        toks,
        F.array(F.lit("</s>")),
    )
    docs = df.filter(F.col(text_col).isNotNull()).filter(low != "")
    ppl = F.round(
        F.exp(
            -(
                F.col("s6").cast("double")
                / (F.col("n_events").cast("double") * F.lit(1e6))
            )
        ),
        4,
    ).alias("ppl")
    if local_model is not None:
        # driver fast tier: tokenization stays the SAME Spark
        # expressions (lower/trim/split/pad), so the only moved logic
        # is the per-event dict lookup + integer sum
        tabs: dict = {o: {} for o in orders if o >= 1}
        lp0 = None
        for r in local_model:
            o = r["order"]
            if o == 0:
                lp0 = int(r["lp6"])
            else:
                key = tuple(r[f"w{i}"] for i in range(1, o + 1))
                tabs[o][key] = int(r["lp6"])
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast((tabs, lp0))
        id_type = df.schema[id_col].dataType.simpleString()
        a6 = int(alpha6)
        nm = int(nmax)

        def op(batches):
            t, floor0 = bc.value
            oov = floor0 + (nm - 1) * a6
            lookups = [
                (t.get(o, {}), nm - o, (nm - o) * a6)
                for o in range(nm, 0, -1)
            ]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids, nev, s6 = [], [], []
                for did, s in zip(pdf[id_col], pdf["s"]):
                    w = list(s)
                    n = len(w) - (nm - 1)
                    tot = 0
                    for i in range(n):
                        g = tuple(w[i : i + nm])
                        sc = oov
                        for tab, skip, pen in lookups:
                            v = tab.get(g[skip:])
                            if v is not None:
                                sc = v + pen
                                break
                        tot += sc
                    ids.append(did)
                    nev.append(n)
                    s6.append(tot)
                yield pd.DataFrame(
                    {id_col: ids, "n_events": nev, "s6": s6}
                )

        per = docs.select(F.col(id_col), padded.alias("s")).mapInPandas(
            op, f"{id_col} {id_type}, n_events long, s6 long"
        )
        return per.select(id_col, "n_events", "s6", ppl)
    sz = F.size("s")
    ev = (
        docs.select(F.col(id_col), padded.alias("s"))
        .select(
            id_col,
            F.explode(
                F.arrays_zip(
                    *[
                        F.slice("s", i + 1, sz - (nmax - 1)).alias(wcols[i])
                        for i in range(nmax)
                    ]
                )
            ).alias("g"),
        )
        .select(
            id_col,
            *[F.col(f"g.{w}").alias(w) for w in wcols],
        )
    )
    # one left join per order, on the event's order-o SUFFIX (backoff
    # drops the leftmost context word); the model's order-o gram
    # columns are w1..wo, so suffix word j of the event matches model
    # column w_{j - (nmax - o)}
    joined = ev
    for o in range(nmax, 0, -1):
        sub = model.filter(F.col("order") == o).select(
            *[
                F.col(wcols[i]).alias(f"__m{o}_{i}")
                for i in range(o)
            ],
            F.col("lp6").alias(f"__lp{o}"),
        )
        cond = None
        for i in range(o):
            c = F.col(wcols[nmax - o + i]) == F.col(f"__m{o}_{i}")
            cond = c if cond is None else (cond & c)
        joined = joined.join(sub, cond, "left").drop(
            *[f"__m{o}_{i}" for i in range(o)]
        )
    floor = model.filter(F.col("order") == 0).select(
        F.col("lp6").alias("__lp0")
    )
    joined = joined.crossJoin(F.broadcast(floor))
    score = F.coalesce(
        *[
            F.col(f"__lp{o}") + F.lit((nmax - o) * alpha6)
            for o in range(nmax, 0, -1)
        ],
        F.col("__lp0") + F.lit((nmax - 1) * alpha6),
    )
    per = joined.select(id_col, score.alias("__s6")).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("__s6").alias("s6"),
    )
    return per.select(id_col, "n_events", "s6", ppl)


def wordpiece_train_distributed(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """WordPiece merge-list training (Schuster & Nakajima 2012; the
    BERT tokenizer) — completes the big-three trainer set next to
    ``bpe_train_distributed`` (argmax pair COUNT) and
    ``unigram_lm_train`` (EM pruning): WordPiece picks the pair that
    maximizes the LIKELIHOOD RATIO count(ab) / (count(a)·count(b)) —
    i.e. it merges the most ASSOCIATED pair, not the most frequent
    (a PMI-style criterion), which is why WordPiece vocabularies
    pick up morphemes earlier than BPE's.

    Ranking currency: score6 = round((ln c_ab − ln c_a − ln c_b)·1e6)
    as BIGINT — the repo's integer micro-log policy, overflow-free at
    any corpus size (a scaled integer ratio c_ab·S/(c_a·c_b) would
    overflow int64 once symbol counts pass ~1e6 at S=1e12); ties
    break (score6 desc, left asc, right asc). Symbol counts are
    weighted occurrence counts over the CURRENT encoding, recomputed
    per merge like the pair counts.

    Same distributed shape and double-separator merge application as
    ``bpe_train_distributed`` (one corpus scan; per merge one
    vocabulary-sized aggregate for pairs + one for symbols + a 1-row
    argmax collect; leftmost-greedy JVM ``replace``), so the DuckDB
    oracle replays every step by value. Output: ``(step, sym_left,
    sym_right, pair_count, score6)``; stops early when no pair
    reaches ``min_count``."""
    spark = df.sparkSession
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    words = df.select(F.explode(toks).alias("w")).filter(
        F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 1)
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    syms = F.expr(
        "transform(sequence(1, length(w)), i -> "
        "  if(i = length(w),"
        "     concat(substring(w, i, 1), '</w>'),"
        "     substring(w, i, 1)))"
    )
    vocab = wc.select(
        F.concat(
            F.lit("__"), F.array_join(syms, "__"), F.lit("__")
        ).alias("enc"),
        "cnt",
    ).transform(cache_auto)
    pair_struct = F.expr(
        "CASE WHEN size(__ss) >= 2 THEN"
        "  transform(sequence(1, size(__ss) - 1),"
        "            i -> struct(__ss[i-1] AS l, __ss[i] AS r))"
        " ELSE array() END"
    )
    merges: list[tuple[int, str, str, int, int]] = []
    for step in range(1, num_merges + 1):
        split_enc = vocab.withColumn(
            "__ss", F.expr("filter(split(enc, '_'), x -> x <> '')")
        ).transform(cache_auto)
        sym_counts = (
            split_enc.select(F.explode("__ss").alias("s"), "cnt")
            .groupBy("s")
            .agg(F.sum("cnt").alias("c"))
        )
        pc = (
            split_enc.select(F.explode(pair_struct).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
            .filter(F.col("pair_count") >= min_count)
        )
        scored = (
            pc.join(
                sym_counts.select(
                    F.col("s").alias("l"), F.col("c").alias("__cl")
                ),
                "l",
            )
            .join(
                sym_counts.select(
                    F.col("s").alias("r"), F.col("c").alias("__cr")
                ),
                "r",
            )
            .select(
                "l",
                "r",
                "pair_count",
                F.round(
                    (
                        F.log("pair_count")
                        - F.log("__cl")
                        - F.log("__cr")
                    )
                    * 1e6,
                    0,
                )
                .cast("long")
                .alias("score6"),
            )
        )
        best = (
            scored.orderBy(F.desc("score6"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        split_enc.unpersist()
        if not best:
            break
        left, right = best[0]["l"], best[0]["r"]
        merges.append(
            (step, left, right, int(best[0]["pair_count"]),
             int(best[0]["score6"]))
        )
        nxt = vocab.select(
            F.replace(
                F.col("enc"),
                F.lit(f"_{left}__{right}_"),
                F.lit(f"_{left}{right}_"),
            ).alias("enc"),
            "cnt",
        ).transform(cache_auto)
        nxt.count()
        vocab.unpersist()
        vocab = nxt
    vocab.unpersist()
    return spark.createDataFrame(
        merges,
        "step int, sym_left string, sym_right string, "
        "pair_count bigint, score6 bigint",
    )
