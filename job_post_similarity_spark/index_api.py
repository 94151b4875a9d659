"""VectorSearch-compatible class API (reference:
app/vector_search.py:12-301) so a user of the reference can switch
without relearning the index object's surface.

Semantics mapping:

| reference                          | here                           |
|------------------------------------|--------------------------------|
| __init__(dim, index_desc, use_gpu) | same signature; use_gpu is a   |
|                                    | no-op (horizontal scale)       |
| train(embeddings)                  | no-op (IVF centroids train     |
|                                    | lazily inside the join; kept   |
|                                    | for API parity)                |
| add(embeddings, ids)               | add(df) / add_arrays(mat, ids) |
| search(queries, k) → (D, I)        | search(queries_df, k) →        |
|                                    | DataFrame, or search_arrays    |
|                                    | → (distances, ids) ndarrays    |
| save/load(index_path, id_map_path) | parquet of (id, embedding) —   |
|                                    | the id map IS a column, the    |
|                                    | binary index is obsolete       |
| ntotal                             | ntotal property                |

The 'index' is simply the vector table (parquet-backed, distributed):
Spark's scan+broadcast replaces Faiss's in-RAM structure, and the
index_description picks the physical join strategy exactly like the
reference's Flat/IVF/HNSW switch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import cache_auto

from .operators import ann, knn
from .schemas import require_embedding_dim

#: corpora up to this many rows build the HNSW index in numpy from one
#: corpus collect and serve the descent from one driver-held
#: ``HnswSnapshot`` (``ann.hnsw_serving_state``'s default cap)
_SNAPSHOT_CAP = 100_000


class _Epoch:
    """Everything derived from one version of the corpus: the corpus,
    its memoized row count, the HNSW layer-0 graph and its build
    provenance (cold/refresh/insert/loaded + knobs, recorded into the
    saved artifact's meta), the layered hierarchy and its meta, the
    per-layer navigation membership (``ann.hnsw_nav_members``), the
    warm serving state (``ann.hnsw_serving_state``) and the OPQ/RaBitQ
    memos. Searches fill it lazily and reuse it across query batches;
    ``release()`` frees it."""

    def __init__(self, corpus: DataFrame):
        self.corpus = corpus
        self.n: int | None = None
        self.graph: DataFrame | None = None
        self.graph_params: dict | None = None
        self.hier: DataFrame | None = None
        self.hier_meta: dict | None = None
        self.nav: DataFrame | None = None
        self.serving: ann.HnswSnapshot | dict | None = None
        # OPQ: (kind, rotation, codebooks, encoded or rotated corpus);
        # RaBitQ: (rotation[, centers], code table)
        self.opq: tuple | None = None
        self.rabitq: tuple | None = None

    @property
    def ntotal(self) -> int:
        if self.n is None:
            # one job with no exchange: rows counted per partition and
            # summed on the driver (an aggregate count() schedules an
            # extra shuffle-map job under AQE)
            self.n = (
                self.corpus.select(F.lit(1))._jdf.queryExecution().toRdd().count()
            )
        return self.n

    def release(self, keep_warm: bool = False) -> None:
        """Free the relations and broadcasts this epoch holds.
        ``keep_warm`` (``add()`` retiring the epoch) keeps the graph,
        hierarchy and membership: they cover exactly the old corpus,
        which is what the next search's repair for the appended rows
        reads. The snapshot's release drops its arrays and
        unpersists its broadcast, if a large batch made one, but
        does not destroy it: a frame an earlier ``search()`` returned
        still collects."""
        names = ["serving", "opq", "rabitq"]
        if not keep_warm:
            names += ["graph", "hier", "nav"]
        for name in names:
            memo = getattr(self, name)
            setattr(self, name, None)
            if isinstance(memo, ann.HnswSnapshot):
                memo.release()
            elif isinstance(memo, dict):  # relational serving tables
                for tab in memo.values():
                    ann.release_relation(tab)
            elif isinstance(memo, tuple):  # quantizer model + codes
                ann.release_relation(memo[-1])
            elif memo is not None:
                ann.release_relation(memo)


class VectorSearch:
    """Distributed analog of the reference's Faiss wrapper. Where the
    reference holds one Faiss index object, this holds one ``_Epoch``
    per version of the corpus; after an add, the previous version's
    built index and the rows appended since seed the next build."""

    def __init__(
        self,
        dimension: int,
        index_description: str = "Flat",
        use_gpu: bool = False,
        spark: SparkSession | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.dimension = dimension
        self.index_description = index_description
        self.use_gpu = use_gpu  # accepted-and-ignored (reference :53-76)
        self.id_col = id_col
        self.vec_col = vec_col
        self._spark = spark
        self._epoch: _Epoch | None = None  # None while the index is empty
        self._retired: _Epoch | None = None
        self._pending: DataFrame | None = None

    def _reset(self, df: DataFrame) -> None:
        """Start a new epoch over ``df`` and release every held one.
        ``remove`` and ``load`` rebuild cold: heavy removal strands
        survivors with mostly-stale edge lists that 2 warm rounds may
        not repair to the cold-build contract, and ``load`` replaces
        the corpus wholesale."""
        for ep in (self._epoch, self._retired):
            if ep is not None:
                ep.release()
        self._epoch, self._retired, self._pending = _Epoch(df), None, None

    # -------------------------------------------------- build surface

    def train(self, *_args, **_kwargs) -> None:
        """API parity no-op: IVF centroids are (re)fit lazily inside
        the join (reference: train-if-needed, app/vector_search.py:85-106)."""

    def add(self, df: DataFrame) -> None:
        """Add a (id, embedding) DataFrame to the index. Batching is
        obsolete (reference batched 10k adds, app/main.py:71-97) —
        union is lazy and distributed. An add after an HNSW build
        retires that epoch as the warm seed, and the rows added since
        accumulate in ``_pending``: the next search dispatches a SMALL
        pending set to the exact per-row ``ann.graph_insert`` and a
        large one to the bulk warm refresh (see ``_build_hierarchy``).
        Only an epoch with a graph is retired (ADVICE r10): a second
        add before any search keeps the seed that still matches."""
        require_embedding_dim(df, self.vec_col, self.dimension)
        ep = self._epoch
        if ep is not None and ep.graph is not None:
            ep.release(keep_warm=True)
            self._retired, self._pending = ep, df
        else:
            if ep is not None:
                ep.release()
            if self._pending is not None:
                self._pending = self._pending.unionByName(df)
        self._epoch = _Epoch(df if ep is None else ep.corpus.unionByName(df))
        self._spark = df.sparkSession

    def add_arrays(self, embeddings, ids) -> None:
        """numpy-compat shim for reference-style callers
        (app/vector_search.py:108-141)."""
        import pandas as pd

        assert self._spark is not None, "pass spark= for array-only usage"
        pdf = pd.DataFrame({self.id_col: list(ids), self.vec_col: list(embeddings)})
        self.add(self._spark.createDataFrame(pdf))

    # -------------------------------------------------- query surface

    #: corpora under this row count serve EXACT answers regardless of
    #: index_description — at small n exact is both faster and strictly
    #: better, and the approximate tiers' recall caveats (the graph
    #: tier's clustered-corpus regime in particular) never bite a
    #: caller by surprise. Serving stacks that want the approximate
    #: tier exercised end-to-end at small n set this to 0.
    exact_shortcut_rows: int = 10_000

    #: adds up to this fraction of the graph's corpus dispatch to the
    #: exact per-row ann.graph_insert; larger adds take the bulk warm
    #: refresh (per-row navigation over a huge pending set would cost
    #: more than re-converging the union)
    insert_add_fraction: float = 0.1

    #: build knobs for the layered tier — recorded into the saved
    #: hierarchy artifact's meta and REQUIRED to match on load (the
    #: descent replays the md5 % m^l membership predicate, so serving
    #: a hierarchy built with a different m would silently degrade
    #: recall — ADVICE r9). One source of truth for build, serve,
    #: save and load.
    _HIER_KNOBS: dict = {"m": 2, "k": 8, "entry_budget": 512}

    def search(self, queries: DataFrame, k: int = 2) -> DataFrame:
        """k-NN search: (query_id, neighbor_id, similarity, rank).
        Strategy follows index_description (the reference's switch,
        app/vector_search.py:42-47) once the corpus outgrows
        ``exact_shortcut_rows``: Flat → exact blocked-BLAS; OPQ… and
        RaBitQ… → their quantizer tiers; HNSW* → layered descent
        (``ann.hnsw_topk_search``) over an NN-Descent layer-0 graph
        and the upper layers built on it; other → SRP-LSH candidates +
        exact verify. What a tier builds is held by the current epoch
        and reused across query batches until the next mutation.

        Within the broadcast cap a cold HNSW build runs in numpy from
        one corpus collect (``ann.hnsw_local_build``): the unpruned
        NN-Descent rounds, which a cold build's NEW-flag pruning
        leaves byte-identical, so the edges equal the relational
        build's row for row (pinned by
        ``test_local_hierarchy_build_equals_relational``). Batches
        then serve from the ``HnswSnapshot`` arrays: one of at most
        10k queries on the driver, when ``search`` is called (no Spark
        job when the batch's plan folds to a local relation, e.g.
        ``createDataFrame`` from pandas; one single-task job
        otherwise; the result is a local ``createDataFrame`` view), a
        larger one in one scan over a broadcast of the arrays. Above the cap the build and the
        descent are relational. Mutations still repair
        relationally."""
        ep = self._epoch
        assert ep is not None, "index is empty — add() first"
        d = self.index_description.strip().lower()
        if d == "flat" or ep.ntotal < self.exact_shortcut_rows:
            return knn.knn_join(
                queries, self.id_col, self.vec_col, k=k,
                include_self=False, right=ep.corpus,
            )
        if d.startswith("opq"):
            # Faiss 'OPQ<m>[,IVF<c>],PQ<m>' family: learn the
            # orthonormal rotation once per corpus (Ge 2013
            # alternation on a seeded sample), then serve ADC in the
            # rotated space — with IVF coarse pruning when the
            # descriptor asks for it. Model + encoded relation are
            # memoized across query batches like the graph tier.
            pq_m, ivf_c = ann.parse_opq_description(d)
            if ep.opq is None:
                R, books = ann.opq_train(
                    ep.corpus, self.vec_col, m=pq_m,
                    n_rows=ep.ntotal,
                )
                if ivf_c is not None:
                    rotated = ann.rotate_vectors(
                        ep.corpus, R, self.id_col, self.vec_col
                    ).transform(cache_auto)
                    ep.opq = ("ivf", R, books, rotated)
                else:
                    codes = ann.opq_encode(
                        ep.corpus, R, books, self.id_col, self.vec_col
                    ).transform(cache_auto)
                    ep.opq = ("flat", R, books, codes)
            kind, R, books, rel = ep.opq
            if kind == "ivf":
                # rotation preserves distances, so rotate-then-IVFPQ
                # is exactly Faiss's OPQ,IVF,PQ pipeline; the coarse
                # quantizer + residual codebooks train in rotated
                # space inside ivfpq_topk_search
                out = ann.ivfpq_topk_search(
                    ann.rotate_vectors(
                        queries, R, self.id_col, self.vec_col
                    ),
                    rel,
                    k=k,
                    id_col=self.id_col,
                    vec_col=self.vec_col,
                    n_centroids=ivf_c,
                    m=pq_m,
                )
            else:
                out = ann.opq_topk_search(
                    queries, rel, R, books, k=k,
                    id_col=self.id_col, vec_col=self.vec_col,
                )
            # the class contract names the score column 'similarity'
            # (ADC scores are approximate — the tier docstrings keep
            # the distinction; the column keeps the API)
            return out.withColumnRenamed(
                "approx_similarity", "similarity"
            )
        if d.startswith("rabitq"):
            # RaBitQ 1-bit tier: seeded-rotation sign codes + the
            # asymmetric estimator shortlist, exact rerank — completes
            # the quantizer family next to SQ8/int8/PQ/OPQ (VERDICT
            # r10 item 4). 'RaBitQ,IVF<c>' adds the coarse prune: one
            # list per row, queries probe their nearest lists, the
            # 1-bit scan touches probed lists only. Model + code
            # table memoized per corpus like the OPQ tier; ranks are
            # exact-rerank outputs, so the 'similarity' column keeps
            # the engine-exact currency.
            import re as _re

            ivf_c = None
            residual = False
            for seg in d.split(",")[1:]:
                mo = _re.match(r"\s*ivf(\d+)", seg)
                if mo:
                    ivf_c = int(mo.group(1))
                if seg.strip() == "residual":
                    # 'RaBitQ,IVF<c>,Residual' — the paper's (and
                    # Faiss's) residual IVF form: codes quantize
                    # x − c_bucket; strictly better shortlists on
                    # clustered corpora (raw within-list sign codes
                    # collapse toward the centroid's code)
                    residual = True
            if residual and ivf_c is None:
                raise ValueError(
                    "Residual RaBitQ needs a coarse quantizer — use "
                    "'RaBitQ,IVF<c>,Residual'"
                )
            if ep.rabitq is None:
                P = ann.rabitq_train(ep.corpus, self.vec_col)
                if ivf_c is not None:
                    import numpy as _np

                    mat = ann._quantizer_train_sample(
                        ep.corpus, self.vec_col, ep.ntotal, 42, None
                    )
                    centers = ann._lloyd_kmeans(mat, ivf_c, 10, 42)
                    assigned = ann.ivf_assign_with_centers(
                        ep.corpus, centers, self.vec_col, n_probe=1
                    )
                    if residual:
                        codes = ann.rabitq_encode_residual(
                            assigned, P, centers,
                            self.id_col, self.vec_col,
                        ).transform(cache_auto)
                    else:
                        codes = ann.rabitq_encode(
                            assigned, P, self.id_col, self.vec_col,
                            carry_cols=("bucket",),
                        ).transform(cache_auto)
                    ep.rabitq = (P, centers, codes)
                else:
                    codes = ann.rabitq_encode(
                        ep.corpus, P, self.id_col, self.vec_col
                    ).transform(cache_auto)
                    ep.rabitq = (P, codes)
            if len(ep.rabitq) == 3:
                P, centers, codes = ep.rabitq
                return ann.rabitq_ivf_topk_search(
                    queries, ep.corpus, k=k,
                    n_centroids=ivf_c or 16,
                    id_col=self.id_col, vec_col=self.vec_col,
                    rotation=P, centers=centers, codes=codes,
                    residual=residual,
                )
            P, codes = ep.rabitq
            return ann.rabitq_topk_search(
                queries, ep.corpus, k=k,
                id_col=self.id_col, vec_col=self.vec_col,
                rotation=P, codes=codes,
            )
        if d.startswith("hnsw"):
            knobs = self._HIER_KNOBS
            if ep.hier is None:
                self._build_hierarchy(ep)
            if ep.serving is None:
                if ep.nav is None and not self._descent_in_cap():
                    # per-layer membership for the relational tier,
                    # materialized once per corpus — every batch's
                    # descent reads it instead of md5-rescanning the
                    # full corpus per layer (the snapshot tier never
                    # reads it; save() builds it on demand)
                    ep.nav = ann.hnsw_nav_members(
                        ep.corpus, self.id_col, self.vec_col,
                        m=knobs["m"], top_layer=ep.hier_meta["top_layer"],
                    ).transform(cache_auto)
                # within the broadcast cap: one HnswSnapshot, which
                # serves a batch with no plan over the index; above
                # it, relational tables only for the upper layers
                # serving will read (ADVICE r10 medium)
                ep.serving = ann.hnsw_serving_state(
                    ep.corpus, ep.hier, ep.hier_meta["top_layer"],
                    id_col=self.id_col, vec_col=self.vec_col,
                    nav_members=ep.nav, m=knobs["m"],
                    corpus_rows=ep.ntotal,
                    layer_sizes=ep.hier_meta["layer_sizes"],
                    size_cap=ep.hier_meta.get("size_cap"),
                )
            return ann.hnsw_topk_search(
                queries, ep.corpus, k=k,
                id_col=self.id_col, vec_col=self.vec_col,
                hierarchy=ep.hier,
                m=knobs["m"],
                graph_k=knobs["k"],
                entry_budget=knobs["entry_budget"],
                corpus_rows=ep.ntotal,
                top_layer=ep.hier_meta["top_layer"],
                layer_sizes=ep.hier_meta["layer_sizes"],
                size_cap=ep.hier_meta.get("size_cap"),
                nav_members=ep.nav,
                serving_state=ep.serving,
            )
        return ann.srp_topk_search(
            queries, ep.corpus, k=k, id_col=self.id_col, vec_col=self.vec_col
        )

    def _descent_in_cap(self) -> bool:
        """The corpus is within the snapshot's broadcast cap: its cold
        HNSW build runs in numpy and its descent serves from one
        driver-held ``HnswSnapshot``."""
        return self.ntotal <= _SNAPSHOT_CAP

    def _hold(self, df: DataFrame, checkpoint: bool = False) -> DataFrame:
        """Keep an index relation for the current epoch. On the
        in-cap descent tier it becomes a driver-held ``createDataFrame``
        view of its one collect (``ann.driver_view``) and ``df`` is
        released (``ann.release_relation``): nothing stays persisted,
        and the snapshot reads it back without recomputing the build.
        Otherwise it is persisted, or localCheckpointed when
        ``checkpoint`` (a hierarchy is read several times per
        maintenance or state-build call, and a cached-but-lineaged
        relation re-pays Catalyst optimization of the whole build plan
        per reference)."""
        if self._descent_in_cap():
            view = ann.driver_view(df)
            # a checkpointed build output is freed now, not when a
            # later GC finds it unreachable: the listener bus holds
            # the last query plan that read it until it catches up
            ann.release_relation(df)
            return view
        return df.localCheckpoint() if checkpoint else df.transform(cache_auto)

    def _build_hierarchy(self, ep: _Epoch) -> None:
        """Build ``ep``'s layer-0 graph (unless load() adopted one) and
        its hierarchy. A cold in-cap build runs in numpy from one
        corpus collect (``ann.hnsw_local_build``) and yields the
        serving snapshot too; ``hier``/``graph`` are job-free views of
        the same edges, what ``save()`` and the next add's repair
        read. After an add, the retired epoch seeds the build instead:
        layer 0 goes through the exact per-row ``ann.graph_insert``
        when the pending rows are at most ``insert_add_fraction`` of
        the old corpus (cost ∝ new rows), else through the bulk warm
        ``ann.nn_descent_refresh`` (reference batched-add contract,
        app/vector_search.py:85-141); ``ann.hnsw_hierarchy_insert``
        then repairs the upper layers, paying only for the rows whose
        md5 level reaches them. The retired epoch is released once the
        new hierarchy is held."""
        knobs = self._HIER_KNOBS
        warm, pend = self._retired, self._pending
        if ep.graph is None and warm is None and self._descent_in_cap():
            build = ann.hnsw_local_build(
                ep.corpus, self.id_col, self.vec_col,
                k=knobs["k"], m=knobs["m"],
                entry_budget=knobs["entry_budget"],
                corpus_rows=ep.ntotal,
            )
            ep.hier, ep.hier_meta = build.hierarchy(), build.meta
            ep.graph = ep.hier.filter(F.col("layer") == 0).drop("layer")
            ep.graph_params = {"k": 8, "iters": 3, "built": "cold"}
            ep.serving = build.snapshot()
            return
        if ep.graph is None and warm is None:
            ep.graph = ann.nn_descent_knn_graph(
                ep.corpus, self.id_col, self.vec_col
            ).transform(self._hold)
            ep.graph_params = {"k": 8, "iters": 3, "built": "cold"}
        elif ep.graph is None:
            # both counts are memoized, and the pending rows are
            # exactly the rows the union gained
            old_n = warm.ntotal
            pend_n = ep.ntotal - old_n
            if (
                self.insert_add_fraction > 0
                and pend_n <= self.insert_add_fraction * old_n
            ):
                ep.graph = ann.graph_insert(
                    warm.corpus, warm.graph, pend,
                    id_col=self.id_col, vec_col=self.vec_col,
                    entries=ann.default_graph_entries(
                        warm.corpus, self.id_col
                    ),
                    corpus_rows=old_n,
                    new_rows_count=pend_n,
                ).transform(self._hold)
                ep.graph_params = {
                    "k": 8, "built": "insert",
                    "base": (warm.graph_params or {}).get("built", "cold"),
                }
            else:
                # add() is the only warm mutation (remove() resets
                # cold), so the refresh is provably pure-append — skip
                # the removal-detection joins
                ep.graph = ann.nn_descent_refresh(
                    ep.corpus, warm.graph, self.id_col, self.vec_col,
                    assume_append_only=True,
                ).transform(self._hold)
                ep.graph_params = {"k": 8, "iters": 2, "built": "refresh"}
            if not self._descent_in_cap():
                # materialize the new graph BEFORE the warm one is
                # released: its lineage reads the old graph's cached
                # blocks (a driver view is materialized already)
                ep.graph.count()
        meta: dict = {}
        if warm is not None and warm.hier is not None:
            old_meta = warm.hier_meta or {}
            ep.hier = ann.hnsw_hierarchy_insert(
                warm.corpus, warm.hier, pend,
                id_col=self.id_col, vec_col=self.vec_col,
                k=knobs["k"], m=knobs["m"],
                entry_budget=knobs["entry_budget"],
                corpus_rows=warm.ntotal,
                base_graph=ep.graph, meta=meta,
                # retired membership + stored sizes make the per-layer
                # repair probe only the NEW rows (no md5 rescan of the
                # full corpus per layer)
                nav_members=warm.nav,
                old_layer_sizes=old_meta.get("layer_sizes"),
                old_top_layer=old_meta.get("top_layer"),
            ).transform(self._hold, checkpoint=True)
        else:
            ep.hier = ann.hnsw_hierarchy_build(
                ep.corpus, self.id_col, self.vec_col,
                k=knobs["k"], m=knobs["m"],
                entry_budget=knobs["entry_budget"],
                corpus_rows=ep.ntotal,
                base_graph=ep.graph, meta=meta,
            ).transform(self._hold, checkpoint=True)
        ep.hier_meta = meta
        if warm is not None:
            # consumed: holding the hierarchy materialized every reader
            warm.release()
            self._retired = self._pending = None

    def search_arrays(self, query_embeddings, k: int = 2):
        """Reference-shaped output (app/vector_search.py:143-205):
        (distances, ids) ndarrays of shape (n, k), L2 distances, -1 /
        None padding when fewer than k neighbors exist."""
        import numpy as np
        import pandas as pd

        assert self._epoch is not None and self._spark is not None
        qids = list(range(-len(query_embeddings), 0))  # avoid id clash
        qdf = self._spark.createDataFrame(
            pd.DataFrame(
                {self.id_col: qids, self.vec_col: list(query_embeddings)}
            )
        )
        rows = self.search(qdf, k=k).collect()
        n = len(query_embeddings)
        dist = np.full((n, k), np.inf, dtype=np.float64)
        ids = np.full((n, k), None, dtype=object)
        for r in rows:
            qi = int(r["query_id"]) + n  # back to 0-based position
            rk = int(r["rank"]) - 1
            # unit vectors: L2 = sqrt(2 - 2 cos) (reference V3 bridge)
            dist[qi, rk] = float(np.sqrt(max(0.0, 2.0 - 2.0 * r["similarity"])))
            ids[qi, rk] = r["neighbor_id"]
        return dist, ids

    # --------------------------------------------------- persistence

    def save(self, index_path: str, id_map_path: str | None = None) -> None:
        """Persist the index as parquet (id map obsolete — the id IS a
        column; reference needed a pickled side-car,
        app/vector_search.py:207-239). At the HNSW tier a BUILT graph
        is saved beside the vectors (``<index_path>__graph``, the
        ``index_store`` kNN-graph artifact) so a reloaded index serves
        without rebuilding — the reference saves the trained Faiss
        structure, not just the raw vectors."""
        ep = self._epoch
        assert ep is not None
        from .operators import index_store

        ep.corpus.write.mode("overwrite").parquet(index_path)
        if ep.graph is not None:
            index_store.save_knn_graph(
                index_path + "__graph",
                ep.graph,
                ep.ntotal,  # memoized — no extra count job
                # actual build provenance (cold/refresh/insert/loaded
                # + knobs), not fixed literals
                params=ep.graph_params or {"k": 8, "iters": 3},
            )
        else:
            # no graph built for THIS corpus: a sibling artifact left
            # by a previous save at the same path would otherwise be
            # adopted by load() whenever its n_rows happens to match,
            # serving edge lists for the wrong vectors
            index_store.delete_index(index_path + "__graph")
        if ep.hier is not None and ep.hier_meta is not None:
            # at-scale tier: the layered hierarchy persists beside the
            # vectors too — WITH the per-layer navigation membership
            # and the build knobs, so a reloaded index descends
            # immediately and with the right membership predicate
            if ep.nav is None:
                ep.nav = ann.hnsw_nav_members(
                    ep.corpus, self.id_col, self.vec_col,
                    m=self._HIER_KNOBS["m"],
                    top_layer=ep.hier_meta["top_layer"],
                ).transform(cache_auto)
            index_store.save_hnsw_hierarchy(
                index_path + "__hier",
                ep.hier,
                ep.ntotal,
                ep.hier_meta["top_layer"],
                ep.hier_meta["layer_sizes"],
                params=dict(self._HIER_KNOBS),
                size_cap=ep.hier_meta.get("size_cap"),
                nav_members=ep.nav,
            )
        else:
            index_store.delete_index(index_path + "__hier")
        if ep.opq is not None and ep.opq[0] == "flat":
            # trained OPQ tier persists too: rotation + codebooks +
            # the encoded code table (the reference saves the whole
            # trained Faiss structure, OPQ pre-transform included).
            # The IVF composition memoizes a rotated copy of the
            # vectors instead of codes — rebuilt on load rather than
            # doubling the stored corpus.
            kind, R, books, codes = ep.opq
            pq_m, _ivf = ann.parse_opq_description(
                self.index_description
            )
            index_store.save_opq_index(
                index_path + "__opq", R, books, codes, ep.ntotal,
                params={"descriptor_m": pq_m},
            )
        else:
            index_store.delete_index(index_path + "__opq")
        if ep.rabitq is not None and len(ep.rabitq) == 2:
            # RaBitQ tier (flat form): rotation (the whole model) +
            # 1-bit code table persist beside the vectors like the
            # OPQ artifact. The IVF composition memoizes centers +
            # bucketed codes in RAM and rebuilds on load (the OPQ,IVF
            # policy — don't double-store the corpus-sized relation).
            P, codes = ep.rabitq
            index_store.save_rabitq_index(
                index_path + "__rabitq", P, codes, ep.ntotal
            )
        else:
            index_store.delete_index(index_path + "__rabitq")

    def load(self, index_path: str, id_map_path: str | None = None) -> None:
        assert self._spark is not None, "pass spark= before load()"
        df = self._spark.read.parquet(index_path)
        require_embedding_dim(df, self.vec_col, self.dimension)
        self._reset(df)
        ep = self._epoch
        # adopt a co-saved graph artifact when its row count still
        # matches the vectors being loaded (staleness contract of
        # load_or_build_knn_graph); any mismatch or load failure just
        # means the next HNSW search rebuilds, as before
        from .operators import index_store

        try:
            graph, meta = index_store.load_knn_graph(
                self._spark, index_path + "__graph"
            )
            if meta["n_rows"] == ep.ntotal:  # populates the memo too
                ep.graph = graph.transform(cache_auto)
                ep.graph_params = {
                    k: v
                    for k, v in meta.items()
                    if k not in ("kind", "n_rows", "format_version")
                } or None
        except index_store.IndexLoadError:
            pass
        try:
            # expect= refuses a hierarchy built with different knobs
            # (a mismatched m would be served through the wrong
            # md5 % m^l membership predicate — ADVICE r9); n_rows
            # keeps the flat artifact's staleness contract
            hier, hmeta = index_store.load_hnsw_hierarchy(
                self._spark, index_path + "__hier",
                expect=self._HIER_KNOBS,
            )
            if hmeta["n_rows"] == ep.ntotal:
                ep.hier = hier.transform(cache_auto)
                ep.hier_meta = {
                    "top_layer": hmeta["top_layer"],
                    "layer_sizes": hmeta["layer_sizes"],
                    "size_cap": hmeta.get("size_cap"),
                }
                nav = index_store.load_hnsw_nav(
                    self._spark, index_path + "__hier"
                )
                if nav is not None:
                    ep.nav = nav.transform(cache_auto)
        except index_store.IndexLoadError:
            pass
        d = self.index_description.strip().lower()
        if d.startswith("opq"):
            try:
                pq_m, ivf_c = ann.parse_opq_description(d)
                codes, R, books, ometa = index_store.load_opq_index(
                    self._spark, index_path + "__opq"
                )
                # adopt only when the artifact matches BOTH the data
                # (row count) and the descriptor's subquantizer count
                # — a different m reshapes the codes
                if (
                    ivf_c is None
                    and ometa["n_rows"] == ep.ntotal
                    and ometa["m"] == pq_m
                ):
                    ep.opq = ("flat", R, books, codes.transform(cache_auto))
            except index_store.IndexLoadError:
                pass
        if d.startswith("rabitq") and "ivf" not in d:
            # flat form only — the IVF composition's bucketed codes
            # are rebuilt on first search (see save())
            try:
                codes, R, rmeta = index_store.load_rabitq_index(
                    self._spark, index_path + "__rabitq"
                )
                # row-count adoption guard, like the other artifacts
                if rmeta["n_rows"] == ep.ntotal:
                    ep.rabitq = (R, codes.transform(cache_auto))
            except index_store.IndexLoadError:
                pass

    @property
    def ntotal(self) -> int:
        """Reference: index.ntotal (app/vector_search.py:297-301).
        Memoized per epoch — serving paths read it per batch."""
        return 0 if self._epoch is None else self._epoch.ntotal

    def remove(self, ids: list) -> None:
        """The op the reference refuses (NotImplementedError,
        app/vector_search_cpu.py:157-175) — trivial here."""
        assert self._epoch is not None
        self._reset(knn.remove_vectors(self._epoch.corpus, self.id_col, ids))
