"""The benchmark's workloads, each driven through the engine's public API.

A workload has a pool of seeded inputs prepared in ``setup``; op ``i``
works on pool entry ``i % pool``. Op 0 is the cold op and ops 1 .. pool-1
warm the process up untimed, so every run answers the whole pool once
before timing starts; timed ops revisit the pool and must reproduce those
first answers exactly. Quality (``result_recall``) is computed over the
first answers only, so it is a function of the seed alone, never of how
many ops a run managed. Outputs are checked after the timed phase, so
checking never runs between timed ops.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import ExitStack

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from job_post_similarity_spark import main as pipeline
from job_post_similarity_spark.config import EngineConfig
from job_post_similarity_spark.index_api import VectorSearch
from job_post_similarity_spark.operators import knn
from job_post_similarity_spark.plans.pipeline import embed_documents

from gen import RAW_SCHEMA, PostGenerator
from spans import catalyst_ms

LID_STRIDE = 1_000_000
EMB_SCHEMA = "lid bigint, embedding array<double>"

#: per workload and scale: input sizes. ``smoke`` is the tiny size the
#: smoke test runs.
SIZES = {
    "dedup_batch": {
        "full": {"batch_posts": 200, "pool": 2},
        "smoke": {"batch_posts": 150, "pool": 2},
    },
    "index_serve": {
        "full": {"corpus": 2000, "query_batch": 50, "pool": 2, "k": 10, "dim": 64,
                 "probe_add": 20, "probe_remove": 5},
        "smoke": {"corpus": 300, "query_batch": 10, "pool": 2, "k": 5, "dim": 64,
                  "probe_add": 5, "probe_remove": 2},
    },
}


def expected_survivors(pdf: pd.DataFrame) -> set[int]:
    """The lids ``preprocess_jobs`` must keep, derived independently in
    pandas: rows with a ``correctDate``, first (lowest lid) row per
    HTML-stripped, whitespace-collapsed description."""
    key = pdf["jobDescRaw"].fillna("").str.replace(r"<[^>]+>", " ", regex=True)
    for ent, rep in [("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'")]:
        key = key.str.replace(ent, rep, regex=False)
    key = key.str.split().str.join(" ")
    kept = pdf.assign(_key=key)[pdf["correctDate"].notna()].sort_values("lid")
    return set(kept.drop_duplicates("_key", keep="first")["lid"].tolist())


def digest(items) -> str:
    """Order-independent fingerprint of a set of result tuples."""
    return hashlib.sha256(repr(sorted(items)).encode()).hexdigest()[:16]


class Workload:
    """Shared op bookkeeping; subclasses fill ``setup``, ``_run`` and
    ``finish``."""

    items_per_op = 1

    def __init__(self, spark, tracer, seed: int, scale: str, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.work = work
        self.gen = PostGenerator(seed)
        self.failures: dict[str, str] = {}  # what failed -> first reason
        self.ops_run = 0
        self.catalyst_ms: list[float] = []
        self.persisted_delta: list[int] = []

    def fail(self, what: str, reason: str) -> None:
        self.failures.setdefault(what, reason)

    def op(self, i: int, *span_names: str) -> float:
        """Run op ``i`` under nested spans; return its latency in seconds.
        An op that raises counts as failed and is not retried."""
        self.ops_run += 1
        try:
            with ExitStack() as stack:
                for name in span_names:
                    stack.enter_context(self.tracer.span(name))
                t0 = time.perf_counter()
                frame = self._run(i)
                dt = time.perf_counter() - t0
            if self.tracer.enabled:
                stages = sum(s.pop("catalyst_ms") for s in self.tracer.spans if "catalyst_ms" in s)
                if self.tracer.phase == "timed":
                    self.catalyst_ms.append(catalyst_ms(frame) + stages)
            return dt
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            self.fail(f"op {i}", f"{type(exc).__name__}: {exc}")
            return float("nan")


class DedupBatch(Workload):
    """``main.run_pipeline`` at the default ``EngineConfig`` on a fresh
    output directory per op."""

    name = "dedup_batch"
    op_spans = ("op",)  # the stage spans nest inside
    cold_spans = ("op",)

    def setup(self) -> None:
        n, pool = self.size["batch_posts"], self.size["pool"]
        self.items_per_op = n
        self.cfg = EngineConfig()
        self.raw, self.expected = [], []
        for b in range(pool):
            pdf = self.gen.batch(b, b * LID_STRIDE, n)
            self.expected.append(expected_survivors(pdf))
            self.raw.append(self.spark.createDataFrame(pdf, RAW_SCHEMA))
        self.outputs: list[tuple[int, str, list]] = []

    def _run(self, i: int):
        out = os.path.join(self.work, f"op{i}")
        pairs = pipeline.run_pipeline(self.spark, self.raw[i % len(self.raw)], out, self.cfg)
        self.outputs.append((i, out, pairs.collect()))
        return pairs

    def finish(self) -> dict:
        """Check every op, then score the pool against the exact tier."""
        tau = self.cfg.similarity_threshold
        first: dict[int, set] = {}
        emb: dict[int, pd.DataFrame] = {}
        for i, out, rows in self.outputs:
            b = i % len(self.raw)
            try:
                self._check(i, b, out, rows, tau, first, emb)
            except Exception as exc:  # noqa: BLE001
                self.fail(f"op {i}", f"check raised {type(exc).__name__}: {exc}")
            shutil.rmtree(out, ignore_errors=True)
        if not emb:
            return {"result_recall": 0.0, "exact_s_per_batch": 0.0}
        union = pd.concat([emb[b] for b in sorted(emb)], ignore_index=True)
        with self.tracer.span("operators.knn"):
            t0 = time.perf_counter()
            exact_rows = knn.similarity_pairs(
                self.spark.createDataFrame(union, EMB_SCHEMA), "lid", "embedding",
                threshold=tau).collect()
            exact_s = time.perf_counter() - t0
        exact = {(r.id1, r.id2) for r in exact_rows if r.id1 // LID_STRIDE == r.id2 // LID_STRIDE}
        found = {(a, c) for pairs in first.values() for a, c, _ in pairs}
        return {
            "result_recall": len(found & exact) / len(exact) if exact else 1.0,
            "pairs_found": len(found),
            "pairs_exact": len(exact),
            "digest": digest(found),
            "exact_s_per_batch": exact_s / len(emb),
        }

    def _check(self, i, b, out, rows, tau, first, emb) -> None:
        kept = set(self.spark.read.parquet(os.path.join(out, "processed"))
                   .select("lid").toPandas()["lid"].tolist())
        if kept != self.expected[b]:
            self.fail(f"op {i}", f"preprocess kept {len(kept)} rows, expected "
                                 f"{len(self.expected[b])}")
            return
        if b in first:  # a checked answer exists: a repeat must equal it
            again = {(r.id1, r.id2, r.similarity) for r in rows}
            if len(rows) != len(first[b]) or again != first[b]:
                self.fail(f"op {i}", f"batch {b} answered differently than before")
            return
        e = self.spark.read.parquet(os.path.join(out, "embeddings")).toPandas()
        vec = dict(zip(e["lid"], (np.asarray(v, dtype=np.float64) for v in e["embedding"])))
        pairs = set()
        for r in rows:
            dot = float(vec[r.id1] @ vec[r.id2])
            if not (r.id1 < r.id2 and r.similarity >= tau and abs(dot - r.similarity) <= 6e-5):
                self.fail(f"op {i}", f"bad pair {r.id1},{r.id2} sim {r.similarity} dot {dot}")
                return
            pairs.add((r.id1, r.id2, r.similarity))
        if len(pairs) != len(rows):
            self.fail(f"op {i}", "duplicate pairs")
        else:
            first[b] = pairs
            emb[b] = e[["lid", "embedding"]]


class IndexServe(Workload):
    """One ``VectorSearch(dim, "HNSW32")`` over a topic-clustered corpus,
    built by the first search and then queried with held-out posts."""

    name = "index_serve"
    op_spans = ("op", "index_api.search")
    cold_spans = ("index_api.search.cold",)

    def _embed(self, texts: pd.DataFrame) -> pd.DataFrame:
        with self.tracer.span("functions.embed"):
            return (embed_documents(self.spark.createDataFrame(texts), text_col="text",
                                    id_col="lid", dim=self.size["dim"], seed=42)
                    .withColumn("embedding", F.col("embedding").cast("array<double>"))
                    .toPandas())

    def setup(self) -> None:
        s = self.size
        self.items_per_op = s["query_batch"]
        emb = self._embed(self.gen.texts(0, 0, s["corpus"] + s["pool"] * s["query_batch"]))
        self.corpus_ids = set(emb["lid"][: s["corpus"]].tolist())
        self.corpus = self.spark.createDataFrame(emb.iloc[: s["corpus"]], EMB_SCHEMA)
        self.query_pdf = [emb.iloc[s["corpus"] + b * s["query_batch"]:
                                   s["corpus"] + (b + 1) * s["query_batch"]]
                          for b in range(s["pool"])]
        self.queries = [self.spark.createDataFrame(q, EMB_SCHEMA) for q in self.query_pdf]
        self.vs = VectorSearch(s["dim"], "HNSW32", spark=self.spark, id_col="lid",
                               vec_col="embedding")
        # serve the approximate tier the defaults reach from 10k rows on
        # (layered descent) at this corpus size
        self.vs.exact_shortcut_rows = 0
        self.vs.hierarchy_min_rows = 0
        self.vs.add(self.corpus)
        self.outputs: list[tuple[int, list]] = []

    def _run(self, i: int):
        res = self.vs.search(self.queries[i % len(self.queries)], k=self.size["k"])
        self.outputs.append((i, res.collect()))
        return res

    def _check_rows(self, label: str, rows, query_ids, allowed) -> dict | None:
        """k rows per query, similarity non-increasing with rank, no self
        match, neighbours drawn from ``allowed``. Returns query → ranked
        neighbour tuples, or None after recording a failure."""
        k = self.size["k"]
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.similarity))
        if set(by_q) != set(query_ids):
            self.fail(label, f"answered {len(by_q)} of {len(query_ids)} queries")
            return None
        for q, hits in by_q.items():
            hits.sort()
            sims = [h[2] for h in hits]
            if len(hits) != k or any(a < b for a, b in zip(sims, sims[1:])):
                self.fail(label, f"query {q} got {len(hits)} rows or unsorted ranks")
                return None
            if any(h[1] == q or h[1] not in allowed for h in hits):
                self.fail(label, f"query {q} got a self match or unknown id")
                return None
        return by_q

    def finish(self) -> dict:
        first: dict[int, dict] = {}
        for i, rows in self.outputs:
            b = i % len(self.queries)
            got = self._check_rows(f"op {i}", rows, self.query_pdf[b]["lid"].tolist(),
                                   self.corpus_ids)
            if got is None:
                continue
            if b not in first:
                first[b] = got
            elif got != first[b]:
                self.fail(f"op {i}", f"batch {b} answered differently than before")
        all_q = pd.concat(self.query_pdf, ignore_index=True)
        with self.tracer.span("operators.knn"):
            t0 = time.perf_counter()
            exact_rows = knn.knn_join(self.spark.createDataFrame(all_q, EMB_SCHEMA), "lid",
                                      "embedding", k=self.size["k"], include_self=False,
                                      right=self.corpus).collect()
            exact_s = time.perf_counter() - t0
        exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
        found = {(q, h[1]) for got in first.values() for q, hits in got.items() for h in hits}
        return {
            "result_recall": len(found & exact) / len(exact) if exact else 1.0,
            "neighbours_found": len(found),
            "neighbours_exact": len(exact),
            "digest": digest(found),
            "exact_s_per_batch": exact_s / len(self.queries),
        }

    def mutation_probe(self) -> None:
        """Add new posts, search for them, remove some ids, search again.
        Covers the write layers (``index_api.add`` / ``remove`` /
        ``search.after_mutation``) in traced runs; its ops count towards
        ``attempted``/``failed``."""
        s = self.size
        new = self._embed(self.gen.texts(1, 10 * LID_STRIDE, s["probe_add"]))
        # the probe queries are the new posts' own vectors under fresh ids
        probe = self.spark.createDataFrame(new.assign(lid=new["lid"] + LID_STRIDE), EMB_SCHEMA)
        probe_ids = (new["lid"] + LID_STRIDE).tolist()
        allowed = self.corpus_ids | set(new["lid"].tolist())
        self.ops_run += 4  # add, search, remove, search
        with self.tracer.span("index_api.add"):
            self.vs.add(self.spark.createDataFrame(new, EMB_SCHEMA))
        with self.tracer.span("index_api.search.after_mutation"):
            rows = self.vs.search(probe, k=s["k"]).collect()
        got = self._check_rows("add probe", rows, probe_ids, allowed)
        if got is not None:
            missing = [q for q, hits in got.items() if hits[0][1] != q - LID_STRIDE]
            if missing:
                self.fail("add probe", f"{len(missing)} added posts not retrieved first")
        gone = set(new["lid"][: s["probe_remove"]].tolist()) | set(
            sorted(self.corpus_ids)[: s["probe_remove"]])
        with self.tracer.span("index_api.remove"):
            self.vs.remove(sorted(gone))
        with self.tracer.span("index_api.search.after_mutation"):
            rows = self.vs.search(probe, k=s["k"]).collect()
        self._check_rows("remove probe", rows, probe_ids, allowed - gone)


WORKLOADS = {w.name: w for w in (DedupBatch, IndexServe)}
