"""Output checks against the in-repo oracle (dpr_spark.oracle.bm25).

Each check is a pure function over plain Python values that returns a
list of problems (empty = pass), so the self-test can feed it perturbed
results and confirm it rejects them. The workloads call these outside
every timed region.

Scores are compared bit for bit, with one measured exception: idf is
ln(...) evaluated by the JVM in the engine (StrictMath, fdlibm) and by
CPython's math.log (libm) in the oracle, and the two disagree in the last
ulp for a few terms of every corpus. So the idf column is checked to
within one ulp of the oracle's (`check_idf`), and rankings are checked
bit-identical to `BM25Oracle.search` run with idf pinned to the index's
own values (`search_with_idf`): every other step of the score - tf, doc
length, avgdl, the BM25 formula and the ascending-term fold - must match
exactly.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Dict, Iterable, List, Sequence, Tuple

from dpr_spark.functions.tokenizer import tokenize
from dpr_spark.oracle.bm25 import BM25Oracle, has_answer, top_k_hits

ACCURACY_KS = (1, 5, 20, 100)


def oracle_for(doc_ids: Iterable[int], texts: Iterable[str]) -> BM25Oracle:
    o = BM25Oracle()
    for d, t in zip(doc_ids, texts):
        o.add(int(d), t)
    o.build()
    return o


def check_dictionary(
    term_df: Dict[str, int], n_docs: int, avgdl: float, oracle: BM25Oracle
) -> List[str]:
    """The engine's (term, df) dictionary and corpus stats equal the
    oracle's exactly."""
    out = []
    if n_docs != oracle.N:
        out.append(f"n_docs {n_docs} != oracle {oracle.N}")
    if avgdl != oracle.avgdl:
        out.append(f"avgdl {avgdl!r} != oracle {oracle.avgdl!r}")
    if term_df != oracle.df:
        missing = set(oracle.df) - set(term_df)
        extra = set(term_df) - set(oracle.df)
        wrong = [t for t in set(term_df) & set(oracle.df) if term_df[t] != oracle.df[t]]
        out.append(
            f"dictionary differs: {len(missing)} missing, {len(extra)} extra, "
            f"{len(wrong)} wrong df (e.g. {sorted(missing | extra | set(wrong))[:3]})"
        )
    return out


def check_idf(idf: Dict[str, float], oracle: BM25Oracle) -> tuple:
    """(problems, n_one_ulp): every term's idf is within one ulp of the
    oracle's; n_one_ulp counts the terms exactly one ulp away."""
    out, one = [], 0
    for t, v in idf.items():
        e = oracle.idf(t)
        if v == e:
            continue
        if abs(v - e) <= math.ulp(e):
            one += 1
        else:
            out.append(f"idf({t!r}) {v!r} is more than one ulp from oracle {e!r}")
    return out[:5], one


def search_with_idf(
    oracle: BM25Oracle, idf: Dict[str, float], question: str, k: int
) -> List[Tuple[int, float]]:
    """BM25Oracle.search with idf(t) pinned to the index's values."""
    oracle.idf = idf.__getitem__  # the instance attribute shadows the method
    try:
        return oracle.search(question, k)
    finally:
        del oracle.idf


def check_ranking(
    qid, got: Sequence[Tuple[int, float]], expected: Sequence[Tuple[int, float]]
) -> List[str]:
    """Rank identity: the same (doc_id, score) list, scores bit-identical."""
    got = [(int(d), float(s)) for d, s in got]
    expected = [(int(d), float(s)) for d, s in expected]
    if got == expected:
        return []
    for r, (g, e) in enumerate(zip(got, expected), 1):
        if g != e:
            return [f"qid {qid}: rank {r} got {g} expected {e}"]
    return [f"qid {qid}: {len(got)} results, oracle has {len(expected)}"]


def check_ranking_by_url(
    qid, got: Sequence[Tuple[str, float]], oracle_all: Sequence[Tuple[str, float]], k: int
) -> List[str]:
    """(url, score) identity with tied scores free to reorder: the score
    sequence is bit-identical, and every url is one the oracle ranks at
    exactly that score (the tie group cut by rank k may differ)."""
    expected = list(oracle_all[:k])
    if [float(s) for _, s in got] != [float(s) for _, s in expected]:
        for r, (g, e) in enumerate(zip(got, expected), 1):
            if float(g[1]) != float(e[1]):
                return [f"qid {qid}: rank {r} score {g[1]!r} expected {e[1]!r}"]
        return [f"qid {qid}: {len(got)} results, oracle has {len(expected)}"]
    by_score: Dict[float, set] = {}
    for u, s in oracle_all:
        by_score.setdefault(float(s), set()).add(u)
    if len({u for u, _ in got}) != len(got):
        return [f"qid {qid}: a url is served twice"]
    for r, (u, s) in enumerate(got, 1):
        if u not in by_score.get(float(s), ()):
            return [f"qid {qid}: rank {r} url {u} is not an oracle hit at score {s!r}"]
    return []


def check_has_answer(
    qid, flags: Sequence[bool], texts: Sequence[str], answers: Sequence[str]
) -> List[str]:
    """The engine's has_answer flag of every ranked passage equals the
    oracle's has_answer on that passage's text."""
    if len(flags) != len(texts):
        return [f"qid {qid}: {len(flags)} answer flags for {len(texts)} passages"]
    for r, (f, t) in enumerate(zip(flags, texts), 1):
        if bool(f) != has_answer(list(answers), t):
            return [f"qid {qid}: rank {r} has_answer {bool(f)} disagrees with the oracle"]
    return []


def expected_accuracy(flags: Sequence[Sequence[bool]], max_k: int) -> Dict[int, int]:
    """The oracle's first-hit fold (qa_validation's top-k histogram) over
    per-question has_answer flags in rank order: k -> questions with a hit
    at rank <= k. Questions without results count as misses."""
    hist = top_k_hits([list(f) for f in flags], max_k)
    return {k: hist[k - 1] for k in ACCURACY_KS if k <= max_k}


def check_accuracy(got: Dict[int, int], expected: Dict[int, int]) -> List[str]:
    bad = [k for k in expected if got.get(k) != expected[k]]
    return [
        f"accuracy hits@{k}: engine {got.get(k)} oracle {expected[k]}" for k in bad
    ]


def check_doc_count(n_engine: int, n_expected: int) -> List[str]:
    if n_engine != n_expected:
        return [f"fresh doc count {n_engine} != expected {n_expected}"]
    return []


def term_histogram(text: str) -> Counter:
    return Counter(tokenize(text))


def check_recrawl(
    served: Dict[str, Counter], newest_text: Dict[str, str]
) -> List[str]:
    """Every re-crawled url serves exactly one document whose postings are
    the term histogram of its NEWEST text."""
    out = []
    for url, text in newest_text.items():
        hist = served.get(url)
        if hist is None:
            out.append(f"re-crawled url {url} not served")
        elif hist != term_histogram(text):
            out.append(f"re-crawled url {url} does not serve its newest text")
    return out
