"""Seeded benchmark inputs: corpora, question sets and crawl waves.

Every input is a pure function of (seed, size) built on
dpr_spark.fixtures.corpus (whose bytes tests/test_fixture_corpus_golden.py
pins). Generated files are cached under the benchmark's own `.cache/`
directory, keyed by the generator version, the seed and the size, so a
repeated seed skips generation; generation is never timed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List

import numpy as np
import pandas as pd

from dpr_spark.fixtures.corpus import EPOCH, _zipf_probs, gen_pages_pdf, gen_vocab

# bump when any generator below changes its output
GEN_VERSION = "v1"

# page columns the engine reads; the html rendering is dropped because no
# workload verifies extraction, and it doubles the bytes every scan reads
PAGE_COLUMNS = ["url", "warc_ts", "text", "lang"]


@dataclass(frozen=True)
class Scale:
    docs: int  # base corpus pages
    questions: int  # distinct questions per offline cycle
    pool: int  # interactive question pool
    batch: int  # questions per interactive / crawl batch
    wave: int  # pages per crawl wave
    waves: int  # crawl waves generated (upper bound on cycles)
    setup_reps: int  # set-up repetitions per run (setup_s is their median)
    check_sample: int  # questions per batch checked against the oracle


SCALES = {
    "full": Scale(
        docs=4000, questions=200, pool=2000, batch=32, wave=400, waves=16,
        setup_reps=2, check_sample=12,
    ),
    # the self-test scale: every code path, seconds per workload
    "tiny": Scale(
        docs=300, questions=24, pool=40, batch=8, wave=24, waves=8,
        setup_reps=2, check_sample=4,
    ),
}


def cache_path(cache: str, kind: str, seed: int, *size) -> str:
    tag = "-".join(str(s) for s in size)
    return os.path.join(cache, f"{GEN_VERSION}-{kind}-s{seed}-{tag}.parquet")


def _cached(path: str, make) -> pd.DataFrame:
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = make()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    # small row groups: a parquet row group is read by one Spark task
    df.to_parquet(tmp, index=False, row_group_size=max(256, len(df) // 16))
    os.replace(tmp, path)
    return df


def corpus(cache: str, seed: int, n_docs: int) -> tuple:
    """(parquet path, pages DataFrame) of the seeded base corpus."""
    path = cache_path(cache, "pages", seed, n_docs)

    def make() -> pd.DataFrame:
        pdf = gen_pages_pdf(n_docs, seed=seed)[PAGE_COLUMNS]
        return pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))

    return path, _cached(path, make)


def questions(
    cache: str, pages: pd.DataFrame, seed: int, vocab_seed: int, n: int
) -> pd.DataFrame:
    """n DISTINCT NQ-style questions (qid, question, answers): the shape of
    fixtures.corpus.gen_queries_pdf — 3-12 Zipf-drawn terms, some with a
    curly apostrophe, 1-3 answer spans cut from corpus pages — but drawn
    from the corpus' own vocabulary (gen_queries_pdf always uses the
    seed-42 vocabulary, which shares only its head with other seeds)."""
    path = cache_path(cache, "questions", seed, vocab_seed, len(pages), n)

    def make() -> pd.DataFrame:
        rng = np.random.default_rng([seed, 43])
        vocab = np.array(gen_vocab(seed=vocab_seed), dtype=object)
        probs = _zipf_probs(len(vocab))
        texts = pages["text"].tolist()
        seen, rows = set(), []
        while len(rows) < n:
            terms = list(vocab[rng.choice(len(vocab), size=int(rng.integers(3, 13)), p=probs)])
            q = " ".join(terms)
            if rng.random() < 0.15:
                q = q + " o’brien"
            answers = []
            for _ in range(int(rng.integers(1, 4))):
                words = texts[int(rng.integers(len(texts)))].split(" ")
                span = int(rng.integers(1, 4))
                start = int(rng.integers(0, max(1, len(words) - span)))
                answers.append(" ".join(words[start : start + span]))
            if q in seen:
                continue
            seen.add(q)
            rows.append((len(rows), q, answers))
        return pd.DataFrame(rows, columns=["qid", "question", "answers"])

    return _cached(path, make)


class HotStream:
    """Interactive traffic: batches drawn with replacement from a question
    pool under Zipf(1.1) popularity over a seeded permutation, so hot
    questions repeat within and across batches."""

    def __init__(self, pool: pd.DataFrame, seed: int, batch: int):
        self.pool = pool
        self.batch = batch
        self.rng = np.random.default_rng([seed, 7])
        order = self.rng.permutation(len(pool))
        probs = _zipf_probs(len(pool), exponent=1.1)
        self.probs = np.empty(len(pool))
        self.probs[order] = probs

    def next_batch(self) -> pd.DataFrame:
        """qid = position in the batch; `pool_id` names the question."""
        pick = self.rng.choice(len(self.pool), size=self.batch, p=self.probs)
        out = self.pool.iloc[pick][["question", "answers"]].reset_index(drop=True)
        out.insert(0, "qid", np.arange(self.batch, dtype=np.int64))
        out.insert(1, "pool_id", pick.astype(np.int64))
        return out


def _texts(rng, vocab_seed: int, n: int) -> list:
    """n page texts drawn like gen_pages_pdf's (50-300 Zipf(1.2) words)
    from the vocabulary of the corpus with seed `vocab_seed`, so crawled
    pages speak the base corpus' language."""
    vocab = np.array(gen_vocab(seed=vocab_seed), dtype=object)
    probs = _zipf_probs(len(vocab))
    lens = rng.integers(50, 301, size=n)
    codes = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(vocab[codes[offs[i] : offs[i + 1]]]) for i in range(n)]


def crawl_wave(
    cache: str, base: pd.DataFrame, seed: int, wave: int, n_pages: int
) -> pd.DataFrame:
    """Crawl wave `wave`: half re-crawls of base urls (fresh text, newer
    warc_ts), half urls the base has never seen. Timestamps are later than
    every base page and every earlier wave, so the newest version of a url
    is always the one from the latest wave that fetched it."""
    path = cache_path(cache, "wave", seed, len(base), wave, n_pages)

    def make() -> pd.DataFrame:
        rng = np.random.default_rng([seed, 11, wave])
        n_re = n_pages // 2
        re_urls = base["url"].to_numpy()[
            np.sort(rng.choice(len(base), size=n_re, replace=False))
        ]
        new_urls = [f"https://crawl.example/s{seed}/w{wave}/{i}" for i in range(n_pages - n_re)]
        ts = EPOCH + (
            np.int64(10**8) + wave * np.int64(10**6) + np.arange(n_pages)
        ).astype("timedelta64[s]").astype("timedelta64[us]")
        return pd.DataFrame(
            {
                "url": list(re_urls) + new_urls,
                "warc_ts": pd.DatetimeIndex(ts).tz_localize("UTC"),
                "text": _texts(rng, vocab_seed=seed, n=n_pages),
                "lang": "en",
            }
        )

    return _cached(path, make)


def repeat_share(pool_ids: List[int]) -> float:
    """Share of asked questions that were already asked earlier in the
    run (within or across batches)."""
    seen, repeats = set(), 0
    for p in pool_ids:
        repeats += p in seen
        seen.add(p)
    return repeats / len(pool_ids) if pool_ids else 0.0
