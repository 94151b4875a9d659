"""Scalar string/date/math column expressions (SURVEY.md §2.8, F1-F12).

All are pure Column → Column builders — JVM-side, inside whole-stage
codegen; no Python in the hot path. The one exception (F1 full-fidelity
HTML stripping) offers a Pandas-UDF variant beside the built-in regexp
approximation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------- F1: HTML


def strip_html(col: Column | str) -> Column:
    """F1 (builtin tier): HTML tags → space, entities unescaped, ws collapsed.

    Approximates the reference's BeautifulSoup get_text(separator=' ')
    (app/preprocess_data.py:30) with JVM regexps: tags removed, the
    five standard XML entities + numeric entities are decoded.  Good
    enough for text whose entities are the common ones; the Pandas-UDF
    tier below is byte-faithful.
    """
    c = F.col(col) if isinstance(col, str) else col
    no_tags = F.regexp_replace(c, r"<[^>]+>", " ")
    # decode the common entities the way BS4/html.unescape would
    ent = no_tags
    for pat, rep in [
        ("&nbsp;", " "),
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
    ]:
        ent = F.replace(ent, F.lit(pat), F.lit(rep))
    return collapse_whitespace(ent)


def strip_html_pandas_udf():
    """F1 (fidelity tier): html.parser text extraction as a Pandas UDF.

    Vectorized Arrow transfer; stdlib ``html.parser`` (no bs4 in this
    container) reproduces tag/entity handling including numeric and
    named entities. Use when byte-fidelity with the reference matters
    more than staying JVM-side.
    """

    @F.pandas_udf(T.StringType())
    def _strip(s: pd.Series) -> pd.Series:
        from html.parser import HTMLParser

        class _Text(HTMLParser):
            def __init__(self):
                super().__init__(convert_charrefs=True)
                self.parts: list[str] = []

            def handle_data(self, d):
                self.parts.append(d)

        def one(x):
            if x is None:
                return None
            p = _Text()
            p.feed(x)
            return " ".join(" ".join(p.parts).split())

        return s.map(one)

    return _strip


# ------------------------------------------------------- F2-F8: string ops


def strip_trailing_comma(col: Column | str) -> Column:
    """F2: fix ``'CA,'`` → ``'CA'`` (reference: app/preprocess_data.py:78)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s*,\s*$", ""))


def normalize_remote(col: Column | str) -> Column:
    """F3: case-insensitive 'remote' → 'REMOTE' (app/preprocess_data.py:83)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"(?i)remote", "REMOTE")


def title_trim(col: Column | str) -> Column:
    """F4: title-case + trim city names (reference: app/preprocess_data.py:88).

    Known semantic gap vs Python str.title() (documented in SURVEY.md
    §2.8): initcap capitalizes after whitespace only, str.title() after
    any non-alpha ("o'brien" → "O'Brien" in pandas, "O'brien" here).
    We standardize on initcap — regression-tested in tests/.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.initcap(c))


def lower_text(col: Column | str) -> Column:
    """F5 (app/preprocess_data.py:97)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(c)


def collapse_whitespace(col: Column | str) -> Column:
    """F6: runs of whitespace → single space, trimmed
    (reference: app/preprocess_data.py:99)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def clean_text(col: Column | str) -> Column:
    """F5+F6 composite — the reference's clean_text_data step
    (app/preprocess_data.py:93-102)."""
    return collapse_whitespace(lower_text(col))


# ---------------------------------------------------------- F9-F12: misc


def canonical_pair(a: Column | str, b: Column | str) -> tuple[Column, Column]:
    """F10: (min, max) string canonicalization of a pair
    (reference: app/main.py:253-254)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.least(ca, cb), F.greatest(ca, cb)


def clip(col: Column | str, lo: float, hi: float) -> Column:
    """F11: np.clip equivalent (reference: app/evaluation.py:27)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def parse_date(col: Column | str) -> Column:
    """F12: pd.to_datetime(errors='coerce') analog — null on failure
    (reference: notebook cell 20). try_to_timestamp keeps the coerce
    semantics under ANSI mode (Spark 4 default), where to_timestamp
    would throw."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c)


# ----------------------------------------------------- PII scrubbing

# Patterns restricted to the regex subset Java (Spark) and RE2 (DuckDB
# and most engines) evaluate identically: no lookarounds, no
# backreferences — \b, classes, and bounded repetition only. That
# keeps the operator oracle-checkable and engine-portable.
_PII_EMAIL = r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"
_PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"


def scrub_pii(col: Column | str) -> Column:
    """Training-data hygiene: redact email / US-phone / SSN-shaped
    spans with typed placeholder tokens — the standard preprocessing
    step before text enters a training corpus. Pure regexp_replace
    chain: map-side, whole-stage codegen, scrubs 100 TB with zero
    shuffles. Order matters: SSN before phone (a dashed SSN is a
    subset-shaped match of neither, but phone-like 3-3-4 digit runs
    must not consume 3-2-4 SSNs)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, _PII_EMAIL, "[EMAIL]")
    out = F.regexp_replace(out, _PII_SSN, "[SSN]")
    out = F.regexp_replace(out, _PII_PHONE, "[PHONE]")
    return out


# ------------------------------------------------ unicode normalization


def normalize_unicode(col: Column | str, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonicalization
    step an LLM corpus needs before ANY hash-based dedup or
    fingerprinting: 'café' composed and decomposed are different byte
    strings, so without this the exact-dedup digests, MinHash shingles
    and substring grams all silently treat them as distinct text.

    Spark has no built-in normalizer, so this is an Arrow-batched
    pandas UDF over ``unicodedata.normalize`` — map-side only, no
    shuffle, and str-accelerated via pandas so the per-row Python is
    one C call. NFC agrees byte-for-byte with DuckDB's
    ``nfc_normalize`` (oracle-checked); the compatibility forms
    (NFKC/NFKD — ligature/width folding) have no DuckDB twin and are
    covered by unit tests instead.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @F.pandas_udf("string")
    def _norm(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import unicodedata

        for s in it:
            yield s.map(
                lambda t: unicodedata.normalize(form, t) if t is not None else None
            )

    c = F.col(col) if isinstance(col, str) else col
    return _norm(c)
