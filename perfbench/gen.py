"""Seeded generator of raw job posts in the ``preprocess_jobs`` input schema.

Every row is a function of ``(seed, first_lid, n)`` only, so the same seed
always yields byte-identical inputs. The posts are drawn from topic
clusters (each topic has its own vocabulary on top of a shared Zipf-like
common vocabulary) and carry the dirt the reference's preprocessing exists
for:

* HTML markup and entities around the description (``<p>``, ``<li>``,
  ``&amp;``, ``&nbsp;``);
* nulls in ``companyName``, ``finalZipcode``, ``finalCity`` and
  ``correctDate`` (rows with a null ``correctDate`` are dropped by
  preprocessing) and a few null descriptions;
* exact duplicates (same description, new ``lid``) that preprocessing's
  keep-first dedup removes before embedding;
* planted near-duplicates: a copy of an earlier post with a few words
  replaced, inserted or deleted, which the similarity stage should pair.

The rates are module constants and are reported with every run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_TOPICS = 24
TOPIC_VOCAB = 160
COMMON_VOCAB = 600
WORDS_MIN, WORDS_MAX = 70, 130
TOPIC_SHARE = 0.65

EXACT_DUP_RATE = 0.04
NEAR_DUP_RATE = 0.10
NEAR_DUP_EDITS = (1, 4)
NULL_DATE_RATE = 0.01
NULL_DESC_RATE = 0.005
NULL_COMPANY_RATE = 0.05
NULL_LOCATION_RATE = 0.03

RATES = {
    "topics": N_TOPICS,
    "exact_dup_rate": EXACT_DUP_RATE,
    "near_dup_rate": NEAR_DUP_RATE,
    "near_dup_edits": list(NEAR_DUP_EDITS),
    "null_date_rate": NULL_DATE_RATE,
    "null_desc_rate": NULL_DESC_RATE,
    "null_company_rate": NULL_COMPANY_RATE,
    "null_location_rate": NULL_LOCATION_RATE,
}

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pra", "den",
    "gor", "lin", "mek", "sol", "tri", "val", "zen", "qui", "bar", "cor",
]
_STATES = ["CA", "NY", "TX", "WA", "IL", "MA", "FL", "CO", "GA", "OR"]
_CITIES = ["san jose", "  new york", "AUSTIN ", "seattle", "chicago",
           "boston", "miami", "denver", "atlanta", "portland"]
_LEVELS = ["Junior", "Senior", "Staff", "Lead", "Principal"]
#: Spark DDL of ``batch()``'s frame (explicit, so all-null columns keep
#: their string type)
RAW_SCHEMA = (
    "jobTitle string, companyName string, lid bigint, jobDescRaw string, "
    "finalZipcode string, finalState string, finalCity string, "
    "correctDate string, companyBranchName string, jobDescUrl string, "
    "nlpBenefits string, nlpSkills string, nlpSoftSkills string, "
    "nlpDegreeLevel string, nlpEmployment string, nlpSeniority string, "
    "scrapedLocation string, jobDescUrlHash string"
)
_DROPPED = ["companyBranchName", "jobDescUrl", "nlpBenefits", "nlpSkills",
            "nlpSoftSkills", "nlpDegreeLevel", "nlpEmployment",
            "nlpSeniority", "scrapedLocation", "jobDescUrlHash"]


def _vocabulary(seed: int) -> tuple[list[str], list[list[str]]]:
    """Pronounceable made-up words: one common list and one list per topic,
    all distinct, so topic membership is what drives similarity."""
    rng = np.random.default_rng([seed, 0])
    words: list[str] = []
    seen: set[str] = set()
    need = COMMON_VOCAB + N_TOPICS * TOPIC_VOCAB
    while len(words) < need:
        w = "".join(rng.choice(_SYLLABLES, size=rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    common = words[:COMMON_VOCAB]
    topics = [
        words[COMMON_VOCAB + t * TOPIC_VOCAB: COMMON_VOCAB + (t + 1) * TOPIC_VOCAB]
        for t in range(N_TOPICS)
    ]
    return common, topics


class PostGenerator:
    """Draws batches of raw posts; ``batch(tag, first_lid, n)`` is pure in
    its arguments, so batches can be drawn in any order."""

    def __init__(self, seed: int):
        self.seed = seed
        self.common, self.topics = _vocabulary(seed)
        ranks = np.arange(1, COMMON_VOCAB + 1, dtype=np.float64)
        self._common_p = (1.0 / ranks) / (1.0 / ranks).sum()

    def _text(self, rng: np.random.Generator, topic: int) -> list[str]:
        n = int(rng.integers(WORDS_MIN, WORDS_MAX + 1))
        from_topic = rng.random(n) < TOPIC_SHARE
        tw = rng.choice(self.topics[topic], size=n)
        cw = rng.choice(self.common, size=n, p=self._common_p)
        return list(np.where(from_topic, tw, cw))

    def _edit(self, rng: np.random.Generator, words: list[str], topic: int) -> list[str]:
        out = list(words)
        for _ in range(int(rng.integers(NEAR_DUP_EDITS[0], NEAR_DUP_EDITS[1] + 1))):
            pos = int(rng.integers(0, len(out)))
            kind = rng.integers(0, 3)
            if kind == 0:
                out[pos] = str(rng.choice(self.topics[topic]))
            elif kind == 1:
                out.insert(pos, str(rng.choice(self.common[:50])))
            elif len(out) > WORDS_MIN // 2:
                del out[pos]
        return out

    @staticmethod
    def _html(rng: np.random.Generator, words: list[str]) -> str:
        cut = sorted(rng.choice(np.arange(5, len(words) - 5), size=2, replace=False))
        a, b, c = words[: cut[0]], words[cut[0]: cut[1]], words[cut[1]:]
        items = "".join(f"<li>{w}</li>" for w in b[:6]) + "<li>" + " ".join(b[6:]) + "</li>"
        return (
            f"<div class=\"jd\"><p>{' '.join(a)}</p>&nbsp;<ul>{items}</ul>"
            f"<p><b>{c[0]}</b> &amp; {' '.join(c[1:])}<br/></p></div>"
        )

    def batch(self, tag: int, first_lid: int, n: int) -> pd.DataFrame:
        """``n`` raw posts with lids ``first_lid .. first_lid + n - 1``.
        ``tag`` separates independent streams drawn under one seed."""
        rng = np.random.default_rng([self.seed, 1, tag])
        topic = rng.integers(0, N_TOPICS, size=n)
        kind = rng.random(n)
        texts: list[list[str] | None] = []
        raw: list[str | None] = []
        for i in range(n):
            if i > 0 and kind[i] < EXACT_DUP_RATE:
                src = int(rng.integers(0, i))
                topic[i] = topic[src]
                texts.append(texts[src])
                raw.append(raw[src])
                continue
            if i > 0 and kind[i] < EXACT_DUP_RATE + NEAR_DUP_RATE and texts[i - 1] is not None:
                src = int(rng.integers(max(0, i - 200), i))
                if texts[src] is not None:
                    topic[i] = topic[src]
                    words = self._edit(rng, texts[src], int(topic[i]))
                    texts.append(words)
                    raw.append(self._html(rng, words))
                    continue
            if rng.random() < NULL_DESC_RATE:
                texts.append(None)
                raw.append(None)
                continue
            words = self._text(rng, int(topic[i]))
            texts.append(words)
            raw.append(self._html(rng, words))

        def nulls(values: list, rate: float) -> list:
            mask = rng.random(n) < rate
            return [None if m else v for v, m in zip(values, mask)]

        state = rng.integers(0, len(_STATES), size=n)
        days = rng.integers(0, 365, size=n)
        df = pd.DataFrame({
            "jobTitle": [f"{_LEVELS[i % len(_LEVELS)]} {self.topics[t][0]} engineer"
                         for i, t in enumerate(topic)],
            "companyName": nulls([f"{self.common[int(j)]} inc" for j in rng.integers(0, 80, size=n)],
                                 NULL_COMPANY_RATE),
            "lid": np.arange(first_lid, first_lid + n, dtype=np.int64),
            "jobDescRaw": raw,
            "finalZipcode": nulls([("remote" if s % 7 == 0 else f"{90000 + int(s) * 37:05d}")
                                   for s in rng.integers(0, 1000, size=n)], NULL_LOCATION_RATE),
            "finalState": [_STATES[s] + ("," if s % 3 == 0 else "") for s in state],
            "finalCity": nulls([_CITIES[s] for s in state], NULL_LOCATION_RATE),
            "correctDate": nulls([f"2024-{1 + d // 31 % 12:02d}-{1 + d % 28:02d}" for d in days],
                                 NULL_DATE_RATE),
        })
        for col in _DROPPED:
            df[col] = [f"{col}-{v}" for v in df["lid"]]
        df["companyBranchName"] = nulls(list(df["companyBranchName"]), NULL_COMPANY_RATE)
        return df

    def texts(self, tag: int, first_lid: int, n: int) -> pd.DataFrame:
        """Clean ``(lid, text)`` rows for the index workloads, which start
        from already-cleaned text: whitespace-joined words, no HTML, no
        nulls, no exact duplicates."""
        rng = np.random.default_rng([self.seed, 2, tag])
        topic = rng.integers(0, N_TOPICS, size=n)
        out: list[str] = []
        for i in range(n):
            if i > 0 and rng.random() < NEAR_DUP_RATE:
                src = int(rng.integers(max(0, i - 200), i))
                out.append(" ".join(self._edit(rng, out[src].split(), int(topic[src]))))
            else:
                out.append(" ".join(self._text(rng, int(topic[i]))))
        return pd.DataFrame({"lid": np.arange(first_lid, first_lid + n, dtype=np.int64),
                             "text": out})
