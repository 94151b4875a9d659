"""J1 — the flagship k-NN similarity self-join, exact tier
(SURVEY.md §2.3 J1, §2.9 V5), plus the duplicate-pair post-processing
chain (P5/P6/P7 filters, D2 canonical dedup).

Reference semantics (app/vector_search.py:143-205 + app/main.py:226-263):
every row is joined to its k nearest neighbors by L2 over unit
embeddings (row 0 = self), distances become cosine, pairs below the
threshold drop, surviving pairs are canonicalized (id1 < id2) and
deduplicated, sorted by similarity descending.

Exact tier = crossJoin + window top-k. O(n²) compute but shuffle-light:
the small side is broadcast block-wise. This is the ORACLE path (DuckDB
can mirror it); the scale path is operators/ann.py (LSH bucketing) —
same output contract, verified against this tier by recall tests.

Scale design (100 TB): never materialize the full n² pair set. The
window's rank filter is applied in the same stage as the distance
computation (WindowGroupLimit pushes k into the per-partition sort);
with B broadcast blocks the peak per-task state is |block| × k rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..caching import cache_auto

from ..functions import vectors as V

# Right-side block size for the blocked matmul tiers: bounds per-task
# memory at |block| × dim × 8B regardless of total right-side size.
_RIGHT_BLOCK = 65536

# per-task ceiling for caching an f64 upcast of an f32 broadcast matrix
# (beyond it, matmul promotes per block transiently — see knn_join.op)
_F64_CACHE_BYTES = 512 * 1024 * 1024


# Hard ceiling on rows collected for a broadcast matrix: beyond this
# the driver collect + broadcast becomes the scale killer (1M × 384
# f32 ≈ 1.5 GB). Callers needing more route through knn_join_passes
# (split broadcast) or ann.srp_topk_search / ann.auto_similarity_join.
_MAX_BROADCAST_ROWS = 1_000_000


class _OverBroadcastBudget(ValueError):
    """``_collect_matrix``'s side is past its row budget: the one
    collect failure a caller with a relational tier falls back on."""


def _collect_matrix(
    df: DataFrame, id_col: str, vec_col: str, max_rows: int = _MAX_BROADCAST_ROWS
):
    # toPandas rides the Arrow path (columnar transfer) — several times
    # faster than row-wise collect() for wide array columns.
    #
    # Broadcast dtype FOLLOWS the column's element type: array<float>
    # sources (the reference's f32 embeddings, our fixtures) ship as
    # f32 — half the broadcast, losslessly upcast to f64 at compute
    # time. array<double> sources stay f64: downcasting them would
    # shift similarities by up to ~6e-8 and flip round-4 boundaries.
    elem = df.schema[vec_col].dataType.elementType
    dtype = np.float32 if elem.simpleString() == "float" else np.float64
    pdf = df.select(id_col, vec_col).limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise _OverBroadcastBudget(
            f"broadcast side exceeds {max_rows} rows — use knn_join_passes "
            "(split broadcast) or ann.auto_similarity_join / "
            "ann.srp_topk_search (relational ANN) instead"
        )
    ids = pdf[id_col].to_numpy()
    try:
        mat = np.asarray(list(pdf[vec_col]), dtype=dtype)
    except ValueError:
        mat = None
    if mat is None or (mat.ndim != 2 and len(pdf)):
        raise _dirty_vector_error(pdf, id_col, vec_col)
    return ids, mat


def _dirty_vector_error(pdf: pd.DataFrame, id_col: str, vec_col: str):
    """The ``ValueError`` for collected rows holding a null or ragged
    vector. It names the smallest offending id; the expected width is
    the smallest id's non-null vector's (the HNSW snapshot tier's
    rule)."""
    pdf = pdf.sort_values(id_col, kind="stable")
    lens = [-1 if v is None else len(v) for v in pdf[vec_col]]
    d = next((w for w in lens if w >= 0), 0)
    k = next(k for k, w in enumerate(lens) if w != d)
    return ValueError(
        f"vector of id {pdf[id_col].tolist()[k]!r}: "
        + ("null vector" if lens[k] < 0 else f"{lens[k]} dims, not {d}")
    )


def knn_join_expr(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 1,
    include_self: bool = False,
    right: DataFrame | None = None,
) -> DataFrame:
    """Exact k-NN join, pure-JVM tier: crossJoin + zip_with dot +
    window top-k. The oracle/reference path — use ``knn_join`` (blocked
    BLAS tier) for real workloads; this one evaluates the dot product
    expression per pair (no vectorization across pairs).

    P6 self-match skip (app/main.py:248) via include_self=False;
    ties broken by neighbor id (deterministic, oracle-matchable).
    """
    left = df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    rhs = (right if right is not None else df).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    pairs = left.crossJoin(rhs)
    if not include_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        V.dot_cosine("__qv", "__nv").alias("similarity"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 1,
    include_self: bool = False,
    right: DataFrame | None = None,
) -> DataFrame:
    """Exact k-NN join, blocked-BLAS tier (the default).

    The right side is broadcast as a dense float64 matrix; each Arrow
    batch of left rows computes ``L @ R.T`` via numpy (BLAS), merging a
    running top-k across right-side blocks of ``_RIGHT_BLOCK`` rows.
    Identical output contract to ``knn_join_expr`` (same tie-break:
    desc similarity, asc neighbor id) — property-tested equal.

    Scale shape: left side streams through mapInPandas (no shuffle);
    right side is a broadcast of ids + matrix. On a 1000-executor
    cluster the same plan fans left partitions across executors; when
    the right side outgrows one broadcast, the block loop becomes an
    outer pass over right-side parquet chunks with the same running
    top-k merge — per-task memory stays |block| × dim × 8B.
    """
    right_df = right if right is not None else df
    ids_r, mat_r = _collect_matrix(right_df, id_col, vec_col)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((ids_r, mat_r))
    n_right = len(ids_r)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rids, rmat = bc.value
        # f32-shipped matrices upcast to f64 once per task (the dot
        # must run in f64 to stay oracle-exact) — but ONLY while the
        # f64 copy stays under _F64_CACHE_BYTES: a resident full-size
        # upcast per concurrent task would multiply the broadcast's
        # footprint by task parallelism at the 1M-row budget (the
        # round-3 "hoist the per-batch astype" fix overshot). Past
        # the cap, blocks stay f32 and numpy's matmul promotion
        # upcasts transiently per (batch, block) — bit-identical
        # result (f32→f64 is exact; accumulation is f64 either way),
        # peak extra memory one block, at the price of re-paying the
        # conversion per batch. f64 sources pass through zero-copy.
        cache_f64 = (
            rmat.dtype == np.float64 or rmat.nbytes * 2 <= _F64_CACHE_BYTES
        )
        blocks: list[tuple[np.ndarray, np.ndarray]] = []
        for lo in range(0, n_right, _RIGHT_BLOCK):
            blk = rmat[lo : lo + _RIGHT_BLOCK]
            if blk.dtype != np.float64 and cache_f64:
                blk = blk.astype(np.float64)
            blocks.append((blk, rids[lo : lo + _RIGHT_BLOCK]))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lids = pdf[id_col].to_numpy()
            lmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            # Per-block top-(k+64) pools: each block's similarities are
            # argpartition-cut BEFORE pooling, so neither the full
            # (n_left × n_right) sims matrix nor a same-shaped id
            # matrix ever persists — per-batch state is
            # n_left × (#blocks · (k+64)). The 64 slack keeps sim-ties
            # at the cut alive for the final id tie-break; only a
            # ≥64-way exact tie could be mis-pruned.
            keep = k + 64
            pool_s: list[np.ndarray] = []
            pool_i: list[np.ndarray] = []
            for block, bids in blocks:
                if block.dtype != np.float64:
                    # uncached tier: transient per-(batch, block)
                    # upcast — mixed-dtype matmul would skip BLAS and
                    # differ in the last ulp from the f64 path
                    block = block.astype(np.float64)
                sims = lmat @ block.T  # (n_left, n_block)
                if not include_self:
                    sims[lids[:, None] == bids[None, :]] = -np.inf
                if sims.shape[1] > keep:
                    part = np.argpartition(-sims, keep - 1, axis=1)[:, :keep]
                    pool_s.append(np.take_along_axis(sims, part, axis=1))
                    pool_i.append(bids[part])
                else:
                    pool_s.append(sims)
                    pool_i.append(np.tile(bids, (len(lids), 1)))
            cand_sims = np.concatenate(pool_s, axis=1)
            cand_ids = np.concatenate(pool_i, axis=1)
            # final cut across the pooled blocks (same slack policy)
            if cand_sims.shape[1] > keep:
                part = np.argpartition(-cand_sims, keep - 1, axis=1)[:, :keep]
                cand_sims = np.take_along_axis(cand_sims, part, axis=1)
                cand_ids = np.take_along_axis(cand_ids, part, axis=1)
            # vectorized final ordering (no per-row Python loop): a
            # stable argsort by id then a stable argsort by -sim gives
            # desc similarity with asc-id tie-break; -inf (masked self)
            # sorts last, so valid entries form a prefix and
            # rank = position+1
            ido = np.argsort(cand_ids, axis=1, kind="stable")
            cs = np.take_along_axis(cand_sims, ido, axis=1)
            ci = np.take_along_axis(cand_ids, ido, axis=1)
            so = np.argsort(-cs, axis=1, kind="stable")[:, :k]
            top_s = np.take_along_axis(cs, so, axis=1)
            top_i = np.take_along_axis(ci, so, axis=1)
            n_l, kk = top_s.shape
            valid = (top_s > -np.inf).ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(lids, kk)[valid],
                    "neighbor_id": top_i.ravel()[valid],
                    "similarity": top_s.ravel()[valid],
                    "rank": np.tile(np.arange(1, kk + 1), n_l)[valid],
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"query_id {id_type}, neighbor_id {id_type}, "
        "similarity double, rank int"
    )
    return df.select(id_col, vec_col).mapInPandas(op, schema)


def knn_join_passes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 1,
    include_self: bool = False,
    right: DataFrame | None = None,
    n_passes: int = 2,
) -> DataFrame:
    """Exact k-NN for right sides too large for ONE broadcast: the
    corpus is hash-split into ``n_passes`` disjoint slices, each pass
    runs the blocked-BLAS join against its slice's broadcast, and a
    final per-query window merges the per-pass top-k — identical
    contract to ``knn_join`` (property-tested equal).

    Peak driver/executor memory is |corpus|/n_passes vectors instead
    of |corpus|; the extra cost is re-scanning the left side per pass.
    Choose n_passes = ceil(corpus_bytes / broadcast_budget).
    """
    right_df = right if right is not None else df
    partial = None
    for p in range(n_passes):
        chunk = right_df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_passes)) == p)
        res = knn_join(
            df, id_col, vec_col, k=k, include_self=include_self, right=chunk
        ).drop("rank")
        partial = res if partial is None else partial.unionByName(res)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def similarity_pairs_expr(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.90,
    round_digits: int = 4,
) -> DataFrame:
    """Flagship: all duplicate pairs at cosine ≥ threshold
    (reference: app/main.py:226-272 chain).

    Because a pair (a,b) with sim ≥ τ is found whether we rank
    neighbors or not, the set-semantics form skips the window
    entirely: enumerate each unordered pair ONCE via id1 < id2
    (D2 canonicalization, app/main.py:253-263 — reference emits each
    pair once via the processed_pairs set), filter on the threshold
    (P5, app/main.py:252), sort descending (O1, :270).

    The id1 < id2 predicate halves the crossJoin output vs the
    reference's search-then-canonicalize; no shuffle until the final
    orderBy of the (small) result.
    """
    a = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("__v1"))
    b = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("__v2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(V.dot_cosine("__v1", "__v2"), round_digits).alias("similarity"),
        )
        .filter(F.col("similarity") >= threshold)
        .orderBy(F.desc("similarity"), F.asc("id1"), F.asc("id2"))
    )


def similarity_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.90,
    round_digits: int = 4,
) -> DataFrame:
    """Flagship duplicate-pair join, blocked-BLAS tier (the default).

    Same output contract as ``similarity_pairs_expr`` (canonical
    id1 < id2, round-4 similarity ≥ threshold, sorted desc) — the
    left side streams through mapInPandas, the right side is a
    broadcast matrix, each batch computes a block of the similarity
    matrix with BLAS and emits only the surviving pairs. The n² pair
    set is never materialized; output size is governed by the
    threshold.

    Rounding happens in the JVM (``F.round``, HALF_UP on the decimal
    repr) — NOT in numpy: ``np.round`` is banker's half-even on the
    binary value, which can differ from ``F.round``/SQL ROUND for
    similarities landing on a rounding boundary, breaking the
    identical-output contract between tiers. The UDF emits raw doubles
    above ``threshold - margin`` (margin = half an ulp of the rounding
    grid) so no pair that would round up across the threshold is lost.
    """
    ids_r, mat_r = _collect_matrix(df, id_col, vec_col)
    bc = df.sparkSession.sparkContext.broadcast((ids_r, mat_r))
    n_right = len(ids_r)
    margin = 0.51 * 10.0 ** (-round_digits)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rids, rmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lids = pdf[id_col].to_numpy()
            lmat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            for lo in range(0, n_right, _RIGHT_BLOCK):
                block = rmat[lo : lo + _RIGHT_BLOCK]
                if block.dtype != np.float64:
                    block = block.astype(np.float64)
                bids = rids[lo : lo + _RIGHT_BLOCK]
                sims = lmat @ block.T
                # canonical enumeration: only id1 < id2 pairs emit
                hit = (sims >= threshold - margin) & (
                    lids[:, None] < bids[None, :]
                )
                li, ri = np.nonzero(hit)
                if len(li):
                    yield pd.DataFrame(
                        {
                            "id1": lids[li],
                            "id2": bids[ri],
                            "similarity": sims[li, ri],
                        }
                    )

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id1 {id_type}, id2 {id_type}, similarity double"
    pairs = df.select(id_col, vec_col).mapInPandas(op, schema)
    return (
        pairs.select(
            "id1", "id2", F.round("similarity", round_digits).alias("similarity")
        )
        .filter(F.col("similarity") >= threshold)
        .orderBy(F.desc("similarity"), F.asc("id1"), F.asc("id2"))
    )


def remove_vectors(df: DataFrame, id_col: str, ids: list) -> DataFrame:
    """V8: vector removal — the op the reference deliberately leaves
    NotImplementedError (app/vector_search_cpu.py:157-175, 'rebuild
    instead'). In Spark it's a filter; any downstream LSH/IVF model is
    re-fit on the filtered frame (the 'rebuild' is a lazy plan, not an
    index teardown)."""
    return df.filter(~F.col(id_col).isin(ids))


def canonicalize_pairs(
    df: DataFrame, a: str, b: str, keep: list[str] | None = None
) -> DataFrame:
    """D2 standalone: (least, greatest) + distinct
    (reference: app/main.py:253-263). String or numeric ids."""
    lo, hi = F.least(F.col(a), F.col(b)), F.greatest(F.col(a), F.col(b))
    cols = [lo.alias("id1"), hi.alias("id2")] + [F.col(c) for c in (keep or [])]
    return df.select(*cols).dropDuplicates(["id1", "id2"])


def random_pair_baseline(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_pairs: int = 5000,
    seed: int = 42,
) -> DataFrame:
    """J3: sampled non-duplicate pair population
    (reference: app/evaluation.py:182-199, 5000 random pairs) — the
    statistical baseline that justified the 0.90 threshold.

    Hash-keyed pairing, fully distributed: every row lands in one of
    ``n_pairs`` groups via a seeded xxhash64 (a deterministic stand-in
    for rand() that any engine reproduces); within each group a
    PARTITIONED window ranks by the same hash and the top two rows
    form the group's pair. No global sort (the previous
    ``Window.orderBy(rand)`` funneled every row through ONE task —
    Spark warns about exactly this), no driver-side count() action,
    O(n) work.

    Emits up to ``n_pairs`` pairs: a group with fewer than two rows
    yields none, so the expected yield is
    n_pairs · (1 - e^-λ(1+λ)), λ = n/n_pairs — ≥ 99% of n_pairs once
    n ≥ 8·n_pairs, which holds for the reference's regime
    (90k rows, 5k pairs). Deterministic for a fixed (data, seed).
    """
    keyed = df.select(
        F.col(id_col).alias("pid"), F.col(vec_col).alias("vec")
    ).withColumn(
        "grp", F.pmod(F.xxhash64(F.col("pid"), F.lit(seed)), F.lit(n_pairs))
    ).withColumn(
        "subkey", F.xxhash64(F.col("pid"), F.lit(seed + 1))
    )
    w = Window.partitionBy("grp").orderBy(F.asc("subkey"), F.asc("pid"))
    ranked = keyed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    left = ranked.filter(F.col("rn") == 1)
    right = ranked.filter(F.col("rn") == 2)
    return (
        left.alias("a")
        .join(right.alias("b"), "grp")
        .select(
            F.col("a.pid").alias("id1"),
            F.col("b.pid").alias("id2"),
            F.round(V.dot_cosine(F.col("a.vec"), F.col("b.vec")), 4).alias(
                "similarity"
            ),
        )
    )


def similarity_histogram(
    df: DataFrame, sim_col: str = "similarity", bins: int = 20
) -> DataFrame:
    """S8 (engine half): fixed-width histogram of a similarity
    population (reference renders with seaborn at
    app/evaluation.py:201-232; the aggregation belongs in the engine,
    rendering on the driver). Bin i covers [i/bins, (i+1)/bins)."""
    c = F.col(sim_col)
    bin_idx = F.least(
        F.floor(c * bins).cast("int"), F.lit(bins - 1)
    ).alias("bin")
    return (
        df.select(bin_idx)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bin")
    )


def knn_classify(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """k-NN majority-vote labeling — the auto-labeling / label-
    propagation step of a training-data pipeline: each vector gets
    the majority label of its ``k`` nearest cosine neighbors (self
    excluded). Ties break (votes desc, label asc) — deterministic
    and oracle-matchable. Output: ``(id, pred_label, votes)``.

    The vote is tier-agnostic: any ``(query_id, neighbor_id)`` table
    works. By default it uses the exact blocked-BLAS ``knn_join``;
    pass ``neighbors=`` (e.g. ``ann.auto_topk_search`` output) to
    classify from an ANN tier at corpus scale — the join+vote below
    is unchanged.

    Scale shape: one label join keyed on neighbor id, one
    (query, label) aggregate, one per-query window over ≤ k rows.
    """
    if neighbors is None:
        neighbors = knn_join(df, id_col, vec_col, k=k)
    labels = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__nl"),
    )
    votes = (
        neighbors.join(labels, "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("__nl")
    )
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            F.col("query_id").alias(id_col),
            F.col("__nl").alias("pred_label"),
            "votes",
        )
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    decimals: int = 6,
) -> DataFrame:
    """Per-label mean vector (class centroids) in long form —
    ``(label, pos, centroid)`` — the training step of a nearest-
    centroid classifier and the summary behind per-class drift
    monitoring. Output ordered (label, pos).

    Cross-engine exactness: each component is accumulated in
    DECIMAL(27,10) (decimal addition is associative, so the sum is
    bit-identical at any parallelism/engine — the repo's standard
    order-independent-aggregation policy), converted to double once,
    divided by the exact count, rounded to ``decimals``.

    Scale shape: one posexplode (map-side Generate) + one hash
    aggregate on (label, pos) — dim × |labels| output rows, corpus
    scanned once, no collect.
    """
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "__x"),
    )
    agg = pos.groupBy("label", "pos").agg(
        F.sum(
            F.col("__x").cast("double").cast("decimal(27,10)")
        ).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        agg.select(
            "label",
            "pos",
            F.round(
                F.col("__s").cast("double") / F.col("__n"), decimals
            ).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


def hard_negatives(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    ``k`` most-similar vectors with a DIFFERENT label — the pairs
    that teach a metric model the most. Ties (sim desc, neighbor id
    asc). Output: ``(query_id, neighbor_id, similarity, rank)``.

    Exact tier: label filter BEFORE the per-anchor ranking, so the
    result is the true top-k negatives (pool-then-filter — ANN top-M
    then re-rank — can return fewer/worse negatives when same-label
    neighbors crowd the pool; that truncation is the documented
    trade-off when swapping in `ann.auto_topk_search` at corpus
    scale). ``anchors`` restricts the query side (the corpus side
    stays full).
    """
    left = (anchors if anchors is not None else df).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__ql"),
    )
    right = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__nv"),
        F.col(label_col).alias("__nl"),
    )
    pairs = left.crossJoin(right).filter(
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("__ql") != F.col("__nl"))
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        V.dot_cosine("__qv", "__nv").alias("similarity"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def nearest_centroid_classify(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: score every vector
    against each label's mean embedding (from ``label_centroids``,
    so the centroids are DECIMAL-exact and rounded identically on
    any engine) and predict the best-scoring label, ties broken
    label asc. Output: ``(id, label, pred_label, score)``.

    The centroid table is |labels| × dim — collected once and
    inlined as literal arrays (the broadcast-small-model pattern;
    same shape as IVF's broadcast coarse quantizer), so
    classification is a pure map-side JVM fold per label: no join,
    no shuffle, codegen end-to-end. The per-label dot runs the same
    sequential fold DuckDB's list_dot_product uses — bit-identical
    scores.
    """
    cents: dict = {}
    for r in label_centroids(df, vec_col, label_col, decimals=6).collect():
        cents.setdefault(r["label"], {})[r["pos"]] = r["centroid"]
    labels = sorted(cents)
    scores = {
        lab: F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.array(
                    *[
                        F.lit(float(cents[lab][p]))
                        for p in sorted(cents[lab])
                    ]
                ),
                lambda x, c: x * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for lab in labels
    }
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    for lab in sorted(labels, reverse=True):
        pred = F.when(
            scores[lab] == best, F.lit(str(lab))
        ).otherwise(pred)
    return df.select(
        id_col,
        label_col,
        pred.alias("pred_label"),
        F.round(best, 4).alias("score"),
    )


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
):
    """Distributed PCA fit: accumulate the d×d Gram matrix and the
    mean with ONE pass over the corpus, eigendecompose driver-side.

    Scale shape — the standard distributed-PCA factoring: per Arrow
    batch, a partial Gram (d×d) + sum + count ride out of
    ``mapInPandas`` as ONE row each (d² floats — batch-count rows
    total, corpus never collected); a posexplode + hash aggregate
    reduces them to the global Gram. The d×d eigenproblem (d=384 →
    1.1 MB) is solved with ``numpy.linalg.eigh`` on the driver —
    corpus-size-independent, the Lloyd/BPE bounded-state shape.
    Components get a deterministic sign (largest-|coefficient|
    coordinate made positive; ties → lowest index).

    Returns ``(components, mean, explained_var)`` as numpy arrays
    (k×d, d, k), eigenvalues descending.
    """
    import numpy as np

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pca_fit on an empty DataFrame")
    d = len(first[0])

    schema = f"gram array<double>, s array<double>, n long"

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 0]]
            )
            g = x.T @ x
            yield pd.DataFrame(
                {
                    "gram": [g.reshape(-1).tolist()],
                    "s": [x.sum(axis=0).tolist()],
                    "n": [len(x)],
                }
            )

    # persisted: the batch-partials table feeds three tiny reductions
    # (gram, sum, count) — unpersisted, the corpus pass runs thrice
    parts = df.select(vec_col).mapInPandas(partial, schema).transform(cache_auto)
    gram_rows = (
        parts.select(F.posexplode("gram").alias("pos", "g"))
        .groupBy("pos")
        .agg(F.sum("g").alias("g"))
        .collect()
    )
    sn = parts.select(
        F.posexplode("s").alias("pos", "v")
    ).groupBy("pos").agg(F.sum("v").alias("v")).collect()
    n_total = parts.agg(F.sum("n").alias("n")).collect()[0]["n"]
    parts.unpersist()
    gram = np.zeros(d * d)
    for r in gram_rows:
        gram[r["pos"]] = r["g"]
    gram = gram.reshape(d, d)
    mean = np.zeros(d)
    for r in sn:
        mean[r["pos"]] = r["v"]
    mean = mean / n_total
    cov = gram / n_total - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k×d
    # deterministic sign: make the largest-|coef| coordinate positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, mean, vals[order]


def pca_project(
    df: DataFrame,
    components,
    mean,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto fitted PCA components: broadcast the k×d
    matrix + mean, map-side Arrow-batched matmul — no join, no
    shuffle; the reduced column replaces megabytes/vector-day with
    k floats."""
    import numpy as np

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (np.asarray(components, dtype=np.float64),
         np.asarray(mean, dtype=np.float64))
    )
    cols = df.columns

    def proj(batches):
        comps, mu = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            y = (x - mu) @ comps.T
            out = pdf.drop(columns=[vec_col])
            out[out_col] = [row.tolist() for row in y]
            yield out

    keep = [c for c in cols if c != vec_col]
    schema_parts = []
    for f_ in df.schema.fields:
        if f_.name != vec_col:
            schema_parts.append(f"{f_.name} {f_.dataType.simpleString()}")
    schema_parts.append(f"{out_col} array<double>")
    return df.mapInPandas(proj, ", ".join(schema_parts))


def int8_scales(
    df: DataFrame, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension symmetric int8 quantization scales:
    ``scale[pos] = max(|x[pos]|)`` over the corpus. ``max`` is
    order-independent, so the scales are bit-identical at any
    parallelism/engine. One posexplode + hash aggregate; the result
    is d doubles — the bounded-model shape (collected once, inlined
    as literals by the encoder)."""
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "__x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("__x").cast("double"))).alias("mx"))
        .collect()
    )
    by_pos = {r["pos"]: r["mx"] for r in rows}
    return [float(by_pos[p]) for p in sorted(by_pos)]


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scales: list[float] | None = None,
    out_col: str = "codes",
) -> DataFrame:
    """Symmetric per-dimension int8 scalar quantization of an
    embedding column — the 4× storage/bandwidth compressor for
    embedding lakes (the faiss ``SQ8`` model): ``code = clamp(round(
    x / scale * 127))`` with ``scale = max|x|`` per dimension.

    Cross-engine exactness: the scale max is order-independent, the
    code expression is a fixed-shape IEEE computation rounded HALF_UP
    in the JVM (== DuckDB ``round``), so codes are integers an
    independent engine reproduces exactly — unlike PQ (trained
    codebooks), scalar quantization is fully oracle-checkable.

    Scale shape: one aggregate pass for scales (d-row model,
    broadcast as literals), then a pure map-side zip_with — no
    shuffle, no Python, whole-stage codegen. A zero scale (a
    dimension that is 0 everywhere) emits code 0.

    Output: input row + ``out_col array<int>``. Pair with
    ``dequantize_int8`` for serving and recall checks.
    """
    if scales is None:
        scales = int8_scales(df, vec_col)
    sv = F.array(*[F.lit(s) for s in scales])
    codes = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        sv,
        lambda x, s: F.when(s == 0.0, F.lit(0)).otherwise(
            F.least(
                F.lit(127.0),
                F.greatest(F.lit(-127.0), F.round(x / s * 127.0, 0)),
            ).cast("int")
        ),
    )
    return df.withColumn(out_col, codes)


def dequantize_int8(
    df: DataFrame,
    scales: list[float],
    codes_col: str = "codes",
    out_col: str = "embedding_sq8",
) -> DataFrame:
    """Inverse of ``quantize_int8``: ``x̂ = code / 127 * scale``.
    Map-side zip_with; reconstruction error per component is bounded
    by ``scale / 254`` (half a quantization step)."""
    sv = F.array(*[F.lit(s) for s in scales])
    return df.withColumn(
        out_col,
        F.zip_with(
            F.col(codes_col),
            sv,
            lambda c, s: c.cast("double") / F.lit(127.0) * s,
        ),
    )


def binary_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bits",
) -> DataFrame:
    """Sign-bit binary quantization of an embedding column — the
    32×-compression retrieval tier (Faiss ``IndexBinaryFlat`` / the
    "binary quantization" mode of modern vector stores): bit j of
    word w is set iff component ``32·w + j`` is positive, packed
    into ``array<long>`` words of 32 bits each.

    32 bits per long (not 64) ON PURPOSE: every packed word stays
    ≤ 2^32 − 1, so the pack is a SUM of distinct powers of two —
    plain integer addition with no sign-bit edge case at either
    engine, fully ANSI-safe. A fold over the bit index with a
    guarded ``element_at`` (ANSI mode throws on out-of-bounds)
    handles dimensions that are not multiples of 32.

    Pure map-side JVM expression — no shuffle, no Python, and like
    ``quantize_int8`` (unlike trained PQ codebooks) bit-exactly
    reproducible by an independent engine, so the WHOLE binary
    retrieval path is oracle-checkable.
    """
    words = F.expr(
        f"""transform(
              sequence(0, (size({vec_col}) - 1) DIV 32),
              w -> aggregate(
                sequence(0, 31),
                0L,
                (acc, j) -> acc + IF(
                  w * 32 + j < size({vec_col})
                  AND CAST(element_at({vec_col},
                               CAST(w * 32 + j + 1 AS INT))
                           AS DOUBLE) > 0D,
                  shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)),
                  CAST(0 AS BIGINT))))"""
    )
    return df.select(F.col(id_col), words.alias(out_col))


def hamming_topk(
    bits_df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    bits_col: str = "bits",
    include_self: bool = False,
) -> DataFrame:
    """Top-k nearest neighbors by Hamming distance over binary-
    quantized vectors: ``xor`` + ``bit_count`` per word, integer-
    summed — the scan is pure codegen arithmetic at 1 bit per
    dimension, which is why binary rescoring front-ends survive
    corpus sizes where float scans don't (the common serving shape:
    Hamming shortlist, then exact-float rerank of the shortlist —
    compose with ``knn_join``/``dot_cosine`` for the rerank).

    The 1-row query side is broadcast; output ``(id, hamming)``
    ordered ascending with ties on the id (TakeOrdered — no global
    sort materialization).
    """
    q = bits_df.filter(F.col(id_col) == query_id).select(
        F.col(bits_col).alias("__qbits")
    )
    dist = F.expr(
        f"""aggregate(
              zip_with({bits_col}, __qbits,
                       (x, y) -> bit_count(x ^ y)),
              0, (acc, v) -> acc + v)"""
    )
    base = bits_df if include_self else bits_df.filter(
        F.col(id_col) != query_id
    )
    return (
        base.crossJoin(F.broadcast(q))
        .select(id_col, dist.alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(k)
    )


def mean_pool(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    decimals: int = 6,
    normalize: bool = False,
) -> DataFrame:
    """Mean-pool vectors per group — the chunk→embed→pool step that
    turns chunk embeddings back into one document vector (and the
    aggregation behind user/session embedding profiles). DECIMAL
    (27,10) component sums (order-independent — the label_centroids
    policy), divided by the exact count, rounded to ``decimals``;
    ``normalize=True`` L2-normalizes AFTER rounding (fixed-shape
    double math, still engine-exact).

    One posexplode + one (group, pos) hash aggregate + one
    collect_list reassembly per group — dim × |groups| intermediate
    rows, corpus scanned once.

    Output: ``(group, n_vecs, pooled array<double>)`` ordered by
    group.
    """
    pos = df.select(
        F.col(group_col).alias("group"),
        F.posexplode(vec_col).alias("pos", "__x"),
    )
    agg = pos.groupBy("group", "pos").agg(
        F.sum(
            F.col("__x").cast("double").cast("decimal(27,10)")
        ).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    comp = agg.select(
        "group",
        "pos",
        F.round(
            F.col("__s").cast("double") / F.col("__n"), decimals
        ).alias("__m"),
        "__n",
    )
    pooled = (
        comp.groupBy("group")
        .agg(
            F.max("__n").alias("n_vecs"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "__m"))
                ),
                lambda s: s["__m"],
            ).alias("pooled"),
        )
    )
    if normalize:
        norm = F.sqrt(
            F.aggregate(
                "pooled", F.lit(0.0), lambda a, x: a + x * x
            )
        )
        pooled = pooled.select(
            "group",
            "n_vecs",
            F.when(
                norm > 0,
                F.transform(F.col("pooled"), lambda x: x / norm),
            ).otherwise(F.col("pooled")).alias("pooled"),
        )
    return pooled.orderBy("group")


def mmr_rerank(
    candidates: DataFrame,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    vec_col: str = "embedding",
    score_col: str = "similarity",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's candidate pool, greedily pick the item
    maximizing ``λ·relevance − (1−λ)·max_sim_to_already_picked`` —
    the diversity-aware top-k that keeps near-duplicate hits from
    crowding a result page (or a RAG context window).

    Scale shape: the greedy loop is inherently sequential per query
    but the POOL is small by construction (an upstream top-M search
    bounds it), so it runs as ``applyInPandas`` per query group —
    queries parallelize across tasks, each group is a bounded
    in-memory problem (the Lloyd/BPE bounded-state argument). Ties
    (equal MMR score) break by id asc; unit-normalized vectors
    assumed (the repo-wide contract).

    Output: ``(query_id, neighbor_id, similarity, mmr_rank)`` with
    ``mmr_rank`` 1-based in pick order, ≤ k rows per query.
    """
    import numpy as np
    import pandas as pd

    id_t = candidates.schema[id_col].dataType.simpleString()
    q_t = candidates.schema[query_col].dataType.simpleString()
    out_schema = (
        f"{query_col} {q_t}, {id_col} {id_t},"
        f" {score_col} double, mmr_rank int"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        n = len(pdf)
        chosen: list[int] = []
        remaining = list(range(n))
        max_sim = np.full(n, -np.inf)
        while remaining and len(chosen) < k:
            if chosen:
                scores = lam * rel - (1 - lam) * max_sim
            else:
                scores = lam * rel
            best = min(
                remaining,
                key=lambda i: (-scores[i], pdf[id_col].iloc[i]),
            )
            chosen.append(best)
            remaining.remove(best)
            if remaining:
                sims = vecs[remaining] @ vecs[best]
                idx = np.asarray(remaining)
                max_sim[idx] = np.maximum(max_sim[idx], sims)
        return pd.DataFrame(
            {
                query_col: pdf[query_col].iloc[chosen].to_numpy(),
                id_col: pdf[id_col].iloc[chosen].to_numpy(),
                score_col: rel[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1),
            }
        )

    return (
        candidates.groupBy(query_col)
        .applyInPandas(pick, out_schema)
        .orderBy(query_col, "mmr_rank")
    )


def matryoshka_truncate(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding_mrl",
    renormalize: bool = True,
) -> DataFrame:
    """Matryoshka truncation (Kusupati et al. 2022): keep the first
    ``dim`` components and (by default) L2-renormalize — the
    adaptive-retrieval trick MRL-trained embedders support, where a
    prefix of the vector is itself a valid lower-fidelity embedding.
    The serving pattern: coarse search in the truncated space, exact
    rerank in the full space (compose with ``knn_join`` /
    ``hamming_topk``).

    Pure map-side ``slice`` + fixed-shape renorm expression (the
    ``l2_normalize`` fold) — no shuffle, codegen, and engine-exact
    up to the documented round policy (callers round for oracles).
    Vectors shorter than ``dim`` are kept whole (slice clamps).
    """
    from job_post_similarity_spark.functions.vectors import l2_normalize

    sliced = F.slice(F.col(vec_col).cast("array<double>"), 1, dim)
    out = l2_normalize(sliced) if renormalize else sliced
    return df.select(F.col(id_col), out.alias(out_col))


def hamming_rerank_topk(
    df: DataFrame,
    query_id: int,
    shortlist: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The binary-retrieval SERVING composition: Hamming shortlist
    over sign-bit codes (1 bit/dim scan), then exact-float cosine
    rerank of only the shortlist — how binary quantization is used in
    production vector stores (the bit scan prunes 97%+ of float
    work; the rerank restores float-accurate ordering).

    Both stages are engine-exact (sign-bit pack + xor/bit_count;
    JVM-fold dot rounded at 4dp), so the composed operator is
    oracle-checkable — rare for a two-stage ANN serving path.
    Output: ``(id, hamming, similarity)`` top-k by (similarity desc,
    id), shortlist joined back to the float table by id (semi-join
    sized ``shortlist``, broadcast).
    """
    from job_post_similarity_spark.functions.vectors import dot

    bits = binary_quantize(df, id_col=id_col, vec_col=vec_col)
    short = hamming_topk(
        bits, query_id, k=shortlist, id_col=id_col
    )
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    return (
        df.join(F.broadcast(short), id_col)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            "hamming",
            F.round(dot(vec_col, "__qvec"), 4).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
    )


def kcenter_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the
    diversity-pruning primitive in training-data curation — pick the
    k most mutually-distant exemplars, a 2-approximation of the
    optimal cover): seed with the LOWEST id, then repeatedly add the
    point FARTHEST from the chosen set (max-min cosine distance).

    Determinism policy: distances are ``round(1 − dot, 4)`` (the
    repo-wide 4dp cosine policy) BEFORE the argmax, ties break on the
    lowest id — so the selected sequence is engine-exact and the
    whole greedy loop is oracle-checkable by unrolled argmax CTEs.

    Scale shape: the running min-distance column is maintained
    distributed (one map-side ``least`` update per iteration against
    the single broadcast newest center — NOT recomputed from the
    whole chosen set); each iteration costs one scan + a 1-row
    TakeOrdered collect, the PageRank/Lloyd driver-loop shape, k
    iterations total. Peak driver state is the k chosen vectors.

    Output: ``(sel_rank, id, dist)`` — selection order, chosen id,
    and the max-min distance at selection time (0.0 for the seed).
    """
    first = (
        df.select(id_col, vec_col)
        .orderBy(F.asc(id_col))
        .limit(1)
        .collect()[0]
    )
    chosen: list[tuple[int, object, float]] = [(1, first[id_col], 0.0)]
    spark = df.sparkSession

    def dist_to(vec_lit):
        arr = F.array(*[F.lit(float(x)) for x in vec_lit])
        return F.round(
            F.lit(1.0) - V.dot(F.col(vec_col).cast("array<double>"), arr),
            4,
        )

    cur = (
        df.select(id_col, vec_col)
        .filter(F.col(id_col) != first[id_col])
        .withColumn("__d", dist_to(first[vec_col]))
        .transform(cache_auto)
    )
    cur.count()
    try:
        for rank in range(2, k + 1):
            far = (
                cur.orderBy(F.desc("__d"), F.asc(id_col))
                .limit(1)
                .collect()
            )
            if not far:
                break
            row = far[0]
            chosen.append((rank, row[id_col], float(row["__d"])))
            vec = (
                df.filter(F.col(id_col) == row[id_col])
                .select(vec_col)
                .collect()[0][0]
            )
            nxt = (
                cur.filter(F.col(id_col) != row[id_col])
                .withColumn("__d", F.least(F.col("__d"), dist_to(vec)))
                .transform(cache_auto)
            )
            nxt.count()
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return spark.createDataFrame(
        chosen, f"sel_rank int, {id_col} long, dist double"
    )


def mmr_rerank_oracle_tier(
    df: DataFrame,
    query_id,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pool: int = 20,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """MMR re-ranking, deterministic ORACLE tier: the greedy
    ``λ·relevance − (1−λ)·max_sim_to_picked`` selection over a
    top-``pool`` candidate set, with every similarity rounded 4dp
    BEFORE entering the recurrence and the score kept as the fixed
    IEEE shape ``(λ·rel) − ((1−λ)·maxsim)`` — so an oracle replays
    the pick sequence exactly (the production ``mmr_rerank`` scores
    with unrounded numpy sims inside ``applyInPandas``; same
    algorithm, not hash-replayable).

    The pool cut is distributed (TakeOrdered); the greedy loop runs
    driver-side over the ≤``pool`` collected rows — the same
    bounded-state argument as the production tier's per-group
    pandas, and the Lloyd/BPE driver-loop shape.

    All similarities enter the recurrence as INTEGER ten-thousandths
    and λ scales to a small integer ratio (0.7 → 7:3), so the score
    ``λ10·rel_e4 − (10−λ10)·maxsim_e4`` is pure int64 arithmetic —
    a first cut kept the score in doubles and DuckDB's expression
    evaluation (FMA contraction) drifted the last ulp.

    Output: ``(mmr_rank, id, relevance_e4, mmr_score_e5)`` in pick
    order — both integer columns (1e-4 / 1e-5 units).
    """
    lam10 = int(round(lam * 10))
    if not 0 < lam10 < 10 or abs(lam10 / 10 - lam) > 1e-12:
        raise ValueError("lam must be a multiple of 0.1 in (0, 1)")
    q = df.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not q:
        raise ValueError(f"query id {query_id!r} not found")
    qv = [float(x) for x in q[0][0]]
    qlit = F.array(*[F.lit(x) for x in qv])
    rel_e4 = F.round(
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                qlit,
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.lit(10_000.0),
        0,
    ).cast("long")
    rows = (
        df.filter(F.col(id_col) != query_id)
        .select(id_col, vec_col, rel_e4.alias("rel_e4"))
        .orderBy(F.desc("rel_e4"), F.asc(id_col))
        .limit(pool)
        .collect()
    )

    import math

    def r4int(x: float) -> int:
        return int(math.floor(abs(x) * 1e4 + 0.5)) * (
            1 if x >= 0 else -1
        )

    cand = {
        r[id_col]: (
            [float(x) for x in r[vec_col]],
            int(r["rel_e4"]),
        )
        for r in rows
    }
    picked: list[tuple[int, object, int, int]] = []
    chosen_vecs: list[list[float]] = []
    for rank in range(1, min(k, len(cand)) + 1):
        best = None
        for i in sorted(cand):
            v, rel_i = cand[i]
            maxsim = 0
            for cv in chosen_vecs:
                acc = 0.0
                for a, b in zip(v, cv):  # sequential LTR fold
                    acc += a * b
                maxsim = max(maxsim, r4int(acc))
            score = lam10 * rel_i - (10 - lam10) * maxsim
            if best is None or score > best[0]:
                best = (score, i)
        score, i = best
        picked.append((rank, i, cand[i][1], score))
        chosen_vecs.append(cand[i][0])
        del cand[i]
    spark = df.sparkSession
    return spark.createDataFrame(
        picked,
        f"mmr_rank int, {id_col} long, relevance_e4 bigint,"
        " mmr_score_e5 bigint",
    )
