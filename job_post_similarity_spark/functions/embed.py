"""Text → embedding operators (SURVEY.md §2.9, V1).

Two tiers, same signature, both returning unit-L2-normalized
``array<float>`` (the property the downstream cosine math relies on —
reference: app/generate_embeddings.py:25-50):

1. ``hashing_embedder`` — deterministic, dependency-free feature-hashing
   projection. CI/test-mode embedder (SURVEY.md §7 M3): same text ⇒
   same vector on any machine, no model download. Arrow-batched
   iterator Pandas UDF + numpy; scales linearly, no shuffle.
2. ``sentence_transformer_embedder`` — the reference's
   all-MiniLM-L6-v2 model (app/main.py:43) as an iterator Pandas UDF
   that loads the model ONCE PER EXECUTOR (not per batch) — the Spark
   analog of the reference's single model instance. Gated behind an
   import-try: this container has no torch/sentence-transformers.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOKEN_MOD = 2**31 - 1
_TOKEN_BASE = 1_000_003


# vectorized-hash matrix guard: tokens longer than this hash in a
# (rare) per-token fallback so the padded char matrix stays bounded at
# n_tokens × 256 even when one pathological megabyte "token" shows up
_VEC_MAX_TOKEN_LEN = 256


def _poly_hash_scalar(tokens: list) -> np.ndarray:
    codes = []
    for tok in tokens:
        h = 0
        for ch in tok:
            h = (h * _TOKEN_BASE + ord(ch)) % _TOKEN_MOD
        codes.append(h)
    return np.asarray(codes, dtype=np.int64)


def _poly_hash_batch(tokens: list) -> np.ndarray:
    """Vectorized polynomial rolling hash over a flat token list.

    Identical values to ``_poly_hash_scalar`` — the per-CHARACTER
    Python loop is replaced by Horner's rule run column-wise over a
    front-zero-padded (n_tokens × max_len) code-point matrix: leading
    zeros contribute nothing to the polynomial, so right-aligning each
    token preserves the hash exactly while the loop count drops from
    Σ len(token) Python iterations to max_len numpy passes. Code
    points come from the UTF-32-LE encoding of the concatenated
    tokens (exact ``ord`` values, one frombuffer, no per-char work).
    Intermediates stay < 2^51 (< int64): h < 2^31, base < 2^20.
    """
    if not tokens:
        return np.empty(0, dtype=np.int64)
    lengths = np.fromiter(map(len, tokens), np.int64, count=len(tokens))
    out = np.empty(len(tokens), dtype=np.int64)
    long_mask = lengths > _VEC_MAX_TOKEN_LEN
    if long_mask.any():
        long_idx = np.nonzero(long_mask)[0]
        out[long_idx] = _poly_hash_scalar([tokens[i] for i in long_idx])
        tokens = [t for t, is_long in zip(tokens, long_mask) if not is_long]
        lengths = lengths[~long_mask]
        if not tokens:
            return out
    chars = np.frombuffer("".join(tokens).encode("utf-32-le"), dtype="<u4")
    max_len = int(lengths.max())
    mat = np.zeros((len(tokens), max_len), dtype=np.int64)
    # right-align: boolean assignment fills row-major, matching the
    # concatenation order of `chars` (uint32 widens on assignment)
    mask = np.arange(max_len)[None, :] >= (max_len - lengths[:, None])
    mat[mask] = chars
    # Horner unrolled to one weighted sum: h = Σ c_j·(B^(L-1-j) mod M)
    # then one final mod. Per-term bound 2^21·2^31 = 2^52, summed over
    # ≤ _VEC_MAX_TOKEN_LEN=256 columns < 2^60 — no intermediate mod,
    # no int64 overflow, and ≡ the per-char rolling hash mod M.
    pows = np.empty(max_len, dtype=np.int64)
    p = 1
    for j in range(max_len - 1, -1, -1):
        pows[j] = p
        p = (p * _TOKEN_BASE) % _TOKEN_MOD
    h = (mat @ pows) % _TOKEN_MOD
    if long_mask.any():
        out[np.nonzero(~long_mask)[0]] = h
        return out
    return h


def _hash_embed_batch(texts: pd.Series, dim: int, seed: int) -> pd.Series:
    """Whole-batch embedding: one flat token list for the batch, one
    vectorized hash pass, one bincount scatter-add into the
    (n_rows × dim) accumulator — no per-row or per-char Python in the
    hot path. Bit-identical to the original per-row version: the ±1
    sums are exact in float64 regardless of accumulation order."""
    toks_per_row = [
        t.lower().split() if t is not None else [] for t in texts
    ]
    n_rows = len(toks_per_row)
    row_counts = np.fromiter(map(len, toks_per_row), np.int64, count=n_rows)
    flat_tokens = [tok for ts in toks_per_row for tok in ts]
    acc = np.zeros((n_rows, dim), dtype=np.float64)
    if flat_tokens:
        codes = _poly_hash_batch(flat_tokens)
        # seeded second-level mix so different seeds give different
        # (but still deterministic) projections
        mixed = (codes * (seed * 2 + 1)) % _TOKEN_MOD
        buckets = mixed % dim
        signs = np.where((mixed // dim) % 2 == 0, 1.0, -1.0)
        row_idx = np.repeat(np.arange(n_rows, dtype=np.int64), row_counts)
        acc = np.bincount(
            row_idx * dim + buckets, weights=signs, minlength=n_rows * dim
        ).reshape(n_rows, dim)
    norms = np.linalg.norm(acc, axis=1)
    np.divide(acc, norms[:, None], out=acc, where=norms[:, None] > 0)
    return pd.Series(list(acc.astype(np.float32)))


def hashing_embedder(dim: int = 64, seed: int = 42):
    """V1 test-mode tier: deterministic seeded hashing projection.

    Returns a Pandas UDF: text column → unit-norm array<float> of
    ``dim``. Pure map-side work — embeds 100 TB with zero shuffles.
    """

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield _hash_embed_batch(s, dim, seed)

    return _embed


def sentence_transformer_embedder(
    model_name: str = "all-MiniLM-L6-v2",
    batch_size: int = 64,
    _loader=None,
):
    """V1 model tier (reference: app/generate_embeddings.py:25-50).

    Iterator Pandas UDF so the model loads once per Python worker and
    is reused across Arrow batches — per-executor model residency, the
    distributed analog of the reference's single in-process model.
    Raises ImportError where sentence-transformers is unavailable
    (this container); callers fall back to ``hashing_embedder``.

    ``_loader`` injects a model factory ``name -> model`` so the UDF
    body — null fill, batch kwargs, ``normalize_embeddings=True``,
    float32 conversion — is executable (and contract-tested) without
    torch in the container; production callers leave it None.
    """
    if _loader is None:
        import sentence_transformers  # noqa: F401 — import-try gate

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        if _loader is not None:
            model = _loader(model_name)
        else:
            from sentence_transformers import SentenceTransformer

            model = SentenceTransformer(model_name)
        for s in it:
            vecs = model.encode(
                s.fillna("").tolist(),
                batch_size=batch_size,
                normalize_embeddings=True,
            )
            yield pd.Series([np.asarray(v, dtype=np.float32) for v in vecs])

    return _embed


def get_embedder(dim: int = 64, seed: int = 42, model_name: str | None = None):
    """Config-driven tier selection with graceful fallback
    (mirrors the reference's USE_GPU fallback pattern,
    app/vector_search.py:53-76)."""
    if model_name:
        try:
            return sentence_transformer_embedder(model_name)
        except ImportError:
            pass
    return hashing_embedder(dim=dim, seed=seed)


def md5_twin_components(
    text_col, dim: int = 16, scale: int = 1000
) -> list:
    """Deterministic-twin embedder components — EXACT INTEGERS, so an
    independent SQL engine reproduces the whole embedding pipeline
    value-for-value (the minhash/SRP twin program applied to V1):
    ``c_j = md5_int(text || ':' || j) mod (2·scale+1) − scale``.

    Pure JVM column expressions (conv/substring/md5 — no UDF, no
    shuffle); ``hashing_embedder`` remains the production tier (fast
    vectorized batch hash), this twin is the oracle-gradable one.
    Normalization stays engine-exact downstream because the norm²
    is an exact int64 sum of squares and ``sqrt``/division are
    correctly-rounded IEEE ops on identical inputs.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    mod = 2 * scale + 1
    return [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(c, F.lit(f":{j}"))), 1, 14
                ),
                16,
                10,
            ).cast("long")
            % mod
            - scale
        ).alias(f"__c{j}")
        for j in range(dim)
    ]
