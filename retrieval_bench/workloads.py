"""The three workloads, run as a closed loop by one client.

Every workload shares one shape: start a Spark session, set the serving
state up `setup_reps` times (setup_s is the median), then run operations
back to back until the window of `--seconds` has passed, each operation
starting only after the previous one finished. Checks against the oracle
run outside every timed region; those that need the whole run's outputs
are deferred until after the window.

- offline_nq: corpus -> build_index (dense ids, blocks) -> make_searcher
  -> top-100 for a set of distinct questions -> attach_passages ->
  annotate_hits + accuracy_at_k, the cycle repeated.
- interactive_hot: one resident searcher answering 32-question batches
  drawn with Zipf popularity from a question pool.
- crawl_refresh: a hash-id base index plus crawl waves ingested through
  StreamingIndexRefresher (compacting at seed-determined cycles), each
  followed by fresh_index, a searcher reopen and one 32-question batch.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from typing import Callable, Dict, List, Optional

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from dpr_spark.eval.validation import accuracy_at_k, annotate_hits
from dpr_spark.index.build import build_index
from dpr_spark.query.scorer import attach_passages
from dpr_spark.serve import make_searcher
from dpr_spark.streaming.refresh import CompactionPolicy, StreamingIndexRefresher

from retrieval_bench import checks, inputs
from retrieval_bench.tracing import MB, Tracer

TOP_K = 100
TAIL = 0.9  # batch_tail_s / refresh_tail_s: nearest-rank p90 of the run
now = time.perf_counter


def median(xs: List[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: List[float]) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, int(np.ceil(TAIL * len(s))) - 1)])


class ScheduledCompaction(CompactionPolicy):
    """Compacts on a fixed cycle schedule instead of a delta-size
    threshold, so every run of a seed compacts at the same cycles."""

    def __init__(self, base_pages, cycles):
        super().__init__(base_pages)
        self.cycles = set(cycles)
        self.cycle = -1

    def should_compact(self, n_delta: int) -> bool:
        return self.cycle in self.cycles


class Op:
    """One closed-loop operation (a batch or a cycle) and its verdict."""

    def __init__(self, idx: int):
        self.idx = idx
        self.problems: List[str] = []
        self.deferred: List[Callable[[], List[str]]] = []


class Workload:
    name = ""
    id_strategy = "dense_rank"
    min_ops = 1

    def __init__(self, spark, tracer: Tracer, scale: inputs.Scale, seed: int,
                 cache: str, work: str, nproc: int):
        self.spark = spark
        self.tr = tracer
        self.scale = scale
        self.seed = seed
        self.cache = cache
        self.work = work
        self.nproc = nproc
        self.ops: List[Op] = []
        self.s: Dict[str, List[float]] = {
            k: [] for k in ("setup_rep_s", "build_s", "refresh_s", "batch_s", "batch_q")
        }
        self.resident_mb: List[float] = []
        self.info: Dict[str, object] = {}
        self.asked: List[int] = []  # pool ids of the Zipf-hot questions asked
        self._results = 0
        # self-test only: corrupt the outputs the checks read (see selftest.py)
        self.perturb: Optional[str] = None

    # ------------------------------------------------------------ inputs

    def prepare(self) -> None:
        """Generate or load the seeded inputs (never timed)."""
        self.pages_path, self.pages = inputs.corpus(self.cache, self.seed, self.scale.docs)

    def open_hot_stream(self) -> None:
        self.qpool = inputs.questions(self.cache, self.pages, self.seed, self.seed, self.scale.pool)
        self.stream = inputs.HotStream(self.qpool, self.seed, self.scale.batch)

    def hot_batch(self) -> pd.DataFrame:
        qpdf = self.stream.next_batch()
        self.asked += qpdf.pool_id.tolist()
        return qpdf

    def oracle(self, pages: pd.DataFrame):
        """BM25Oracle over pages with the engine's dense ids (url rank)."""
        ranked = pages.sort_values("url", kind="mergesort")
        return checks.oracle_for(range(len(ranked)), ranked["text"])

    # ------------------------------------------------------ engine calls

    def out_path(self, kind: str, i: int) -> str:
        return os.path.join(self.work, "out", f"{kind}-{i:05d}")

    def storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / MB

    def open_index(self, pages_df, batch: str):
        """build_index + block materialization + make_searcher. Records
        the build wall; returns (index, search_fn, close_fn, build+open
        wall)."""
        t0 = now()
        with self.tr.span("index.build.build_index", batch):
            idx = build_index(self.spark, pages_df, id_strategy=self.id_strategy)
        with self.tr.span("index.build.blocks", batch):
            idx.blocks.count()
        t1 = now()
        fn, close = self.open_searcher(idx, batch)
        self.s["build_s"].append(t1 - t0)
        return idx, fn, close, now() - t0

    def open_searcher(self, idx, batch: str):
        before = self.storage_mb() if self.tr.enabled else 0.0
        with self.tr.span("serve.make_searcher", batch):
            fn, close = make_searcher(self.spark, idx)
        if self.tr.enabled:
            self.resident_mb.append(self.storage_mb() - before)
        return fn, close

    def answer(self, fn, qpdf: pd.DataFrame, path: str, batch: str) -> None:
        """Submit a batch and write its top-100 (qid, rank, doc_id, score)."""
        qdf = self.spark.createDataFrame(qpdf[["qid", "question"]])
        with self.tr.span("query.wand.resolve", batch):
            res = fn(qdf)
        with self.tr.span("query.wand.score", batch):
            res.write.parquet(path)

    def read_rankings(self, path: str) -> Dict[int, list]:
        """qid -> [(doc_id, score)] by rank, as written by a batch."""
        t = pq.read_table(path).to_pandas().sort_values(["qid", "rank"])
        return {
            int(q): list(zip(g["doc_id"].astype(int), g["score"].astype(float)))
            for q, g in t.groupby("qid")
        }

    def perturbed(self, rankings: Dict[int, list], q: int) -> Dict[int, list]:
        """Apply the self-test perturbation to question q's list (one the
        checks read): swap the ids of ranks 1 and 2, or move score 1 up by
        one ulp."""
        if self.perturb not in ("swap_doc_id", "score_ulp") or q not in rankings:
            return rankings
        r = list(rankings[q])
        if self.perturb == "swap_doc_id" and len(r) > 1:
            (d0, s0), (d1, s1) = r[0], r[1]
            r[0], r[1] = (d1, s0), (d0, s1)
        elif self.perturb == "score_ulp":
            r[0] = (r[0][0], float(np.nextafter(r[0][1], np.inf)))
        return {**rankings, q: r}

    # ------------------------------------------------------------ driver

    def setup(self) -> None:
        """Base index + resident searcher, `setup_reps` times; the last
        one stays open."""
        self.pages_df = self.spark.read.parquet(self.pages_path)
        for r in range(self.scale.setup_reps):
            if r:
                self.close()
                self.idx.unpersist()
            self.idx, self.fn, self.close, wall = self.open_index(self.pages_df, f"setup{r}")
            self.s["setup_rep_s"].append(wall)

    def step(self, op: Op) -> None:
        raise NotImplementedError

    def run_window(self, seconds: float) -> None:
        end = now() + seconds
        while len(self.ops) < self.min_ops or now() < end:
            op = Op(len(self.ops))
            self.ops.append(op)
            try:
                self.step(op)
            except Exception as e:  # one failed operation must not end the run
                traceback.print_exc(file=sys.stderr)
                op.problems.append(f"op {op.idx} raised {type(e).__name__}: {e}")

    def verify(self) -> None:
        """Deferred checks, after the window."""
        if self.asked:
            self.info["repeat_share"] = inputs.repeat_share(self.asked)
            self.info["questions_asked"] = len(self.asked)
        for op in self.ops:
            for check in op.deferred:
                try:
                    op.problems.extend(check())
                except Exception as e:
                    traceback.print_exc(file=sys.stderr)
                    op.problems.append(f"op {op.idx} check raised {type(e).__name__}: {e}")

    def teardown(self) -> None:
        self.close()
        self.idx.unpersist()

    # ----------------------------------------------------------- metrics

    def end_to_end(self, session_s: float, peak_rss_mb: float) -> Dict[str, float]:
        s = self.s
        return {
            "setup_s": session_s + median(s["setup_rep_s"]),
            "build_docs_per_s": self.scale.docs / median(s["build_s"]),
            "qps": sum(s["batch_q"]) / sum(s["batch_s"]),
            "batch_p50_s": median(s["batch_s"]),
            "batch_tail_s": tail(s["batch_s"]),
            "refresh_p50_s": median(self.refresh_samples()),
            "refresh_tail_s": tail(self.refresh_samples()),
            "peak_rss_mb": peak_rss_mb,
        }

    def refresh_samples(self) -> List[float]:
        return self.s["refresh_s"]

    def sample_counts(self) -> Dict[str, int]:
        return {
            "setup_reps": len(self.s["setup_rep_s"]),
            "builds": len(self.s["build_s"]),
            "batches": len(self.s["batch_s"]),
            "refreshes": len(self.refresh_samples()),
        }

    def per_layer(self) -> Dict[str, float]:
        tr = self.tr
        nproc = self.nproc

        def med(name, f=lambda s: s.duration):
            return median([f(s) for s in tr.named(name)])

        def c(s, key):
            return s.counters.get(key, 0)

        # one build = its build_index span + its blocks span
        builds: Dict[str, Counter] = {}
        for s in tr.named("index.build.build_index") + tr.named("index.build.blocks"):
            b = builds.setdefault(s.batch, Counter())
            b["wall"] += s.duration
            for k in ("jobs", "tasks", "task_busy_s", "shuffle_write_mb", "spill_mb", "gc_s"):
                b[k] += c(s, k)
        bl = list(builds.values())

        # one batch = its resolve span + its score span
        per_batch: Dict[str, Counter] = {}
        for s in tr.named("query.wand.resolve") + tr.named("query.wand.score"):
            b = per_batch.setdefault(s.batch, Counter())
            b["jobs"] += c(s, "jobs")
            b["tasks"] += c(s, "tasks")
        score = tr.named("query.wand.score")
        scan_rows = sum(c(s, "scan_rows") for s in score)
        out = {
            "index.build.build_index_s": med("index.build.build_index"),
            "index.build.blocks_s": med("index.build.blocks"),
            "index.build.jobs": median([b["jobs"] for b in bl]),
            "index.build.tasks": median([b["tasks"] for b in bl]),
            "index.build.task_busy_s": median([b["task_busy_s"] for b in bl]),
            "index.build.core_utilisation": median(
                [b["task_busy_s"] / (b["wall"] * nproc) for b in bl if b["wall"] > 0]
            ),
            "index.build.shuffle_write_mb": median([b["shuffle_write_mb"] for b in bl]),
            "index.build.spill_mb": median([b["spill_mb"] for b in bl]),
            "index.build.gc_s": median([b["gc_s"] for b in bl]),
            "index.build.tf_kernel_docs_per_s": self.tf_kernel_rate(),
            "serve.make_searcher_s": med("serve.make_searcher"),
            "serve.resident_mb": median(self.resident_mb),
            "query.wand.resolve_s": med("query.wand.resolve"),
            "query.wand.jobs_per_batch": median([b["jobs"] for b in per_batch.values()]),
            "query.wand.tasks_per_batch": median([b["tasks"] for b in per_batch.values()]),
            "query.wand.score_s": med("query.wand.score"),
            "query.wand.task_busy_s": med("query.wand.score", lambda s: c(s, "task_busy_s")),
            "query.wand.core_utilisation": med(
                "query.wand.score",
                lambda s: c(s, "task_busy_s") / (s.duration * nproc) if s.duration else 0.0,
            ),
            "query.wand.shuffle_read_mb": med("query.wand.score", lambda s: c(s, "shuffle_read_mb")),
            "query.wand.rows_read_per_result": scan_rows / self._results if self._results else 0.0,
            "query.scorer.attach_passages_s": med("query.scorer.attach_passages"),
            "eval.validation.annotate_hits_s": med("eval.validation.annotate_hits"),
            "eval.validation.accuracy_at_k_s": med("eval.validation.accuracy_at_k"),
        }
        out.update(self.refresh_layers())
        return out

    def refresh_layers(self) -> Dict[str, float]:
        """streaming.refresh.* (0 on workloads without a crawl)."""
        return {
            "streaming.refresh.ingest_s": 0.0,
            "streaming.refresh.fresh_index_s": 0.0,
            "streaming.refresh.delta_docs": 0.0,
            "streaming.refresh.bytes_written_per_user_byte": 0.0,
            "streaming.refresh.compact_ingest_s": 0.0,
            "streaming.refresh.compactions": 0.0,
        }

    def count_results(self) -> None:
        """Result rows written by all batches (rows_read_per_result's base)."""
        root = os.path.join(self.work, "out")
        self._results = sum(
            pq.read_metadata(os.path.join(dp, f)).num_rows
            for dp, _, fs in os.walk(root)
            if os.path.basename(dp).startswith("res-")
            for f in fs
            if f.endswith(".parquet")
        )

    def tf_kernel_rate(self) -> float:
        """tf_batch_arrow over the corpus text in-process (no Spark), in
        10000-row Arrow batches like the engine's; median of 3 passes."""
        import pyarrow as pa

        from dpr_spark.index.build import tf_batch_arrow

        texts = pa.array(self.pages["text"].tolist(), type=pa.string())
        walls = []
        for _ in range(3):
            t = now()
            for off in range(0, len(texts), 10000):
                tf_batch_arrow(texts.slice(off, 10000))
            walls.append(now() - t)
        return len(texts) / median(walls)


# ---------------------------------------------------------------- offline


class OfflineNQ(Workload):
    name = "offline_nq"
    CYCLE_SETS = 8  # distinct question sets; cycle c uses set c mod 8

    def prepare(self) -> None:
        super().prepare()
        q = self.scale.questions
        self.qpool = inputs.questions(self.cache, self.pages, self.seed, self.seed, q * self.CYCLE_SETS)
        self.oracle_idx = self.oracle(self.pages)

    def refresh_samples(self) -> List[float]:
        # a refresh re-indexes the corpus and reopens the searcher: each
        # set-up repetition, and the rebuild that starts every later cycle
        return self.s["setup_rep_s"] + self.s["refresh_s"]

    def step(self, op: Op) -> None:
        sc = self.scale
        b = f"cycle{op.idx}"
        lo = (op.idx % self.CYCLE_SETS) * sc.questions
        qpdf = self.qpool.iloc[lo : lo + sc.questions].reset_index(drop=True)
        if op.idx:  # cycle 0 retrieves from the index the set-up built
            self.close()
            self.idx.unpersist()
            self.idx, self.fn, self.close, refresh = self.open_index(self.pages_df, b)
            self.s["refresh_s"].append(refresh)
        idx, fn = self.idx, self.fn
        docs = (
            idx.docstats.join(self.pages_df.select("url", "text"), "url")
            .select("doc_id", "url", "text")
            .persist()
        )
        res_path, pas_path = self.out_path("res", op.idx), self.out_path("pas", op.idx)
        t0 = now()
        answers = self.spark.createDataFrame(qpdf[["qid", "answers"]])
        self.answer(fn, qpdf, res_path, b)
        with self.tr.span("query.scorer.attach_passages", b):
            attach_passages(self.spark.read.parquet(res_path), idx, docs).write.parquet(pas_path)
        with self.tr.span("eval.validation.annotate_hits", b):
            hits = annotate_hits(self.spark.read.parquet(res_path), docs, answers).persist()
            hits.count()
        with self.tr.span("eval.validation.accuracy_at_k", b):
            acc = accuracy_at_k(hits, len(qpdf), TOP_K).collect()
        self.s["batch_s"].append(now() - t0)
        self.s["batch_q"].append(len(qpdf))

        # untimed: the engine's per-hit answer flags, then the dictionary
        # and corpus stats against the oracle
        flags = hits.select("qid", "rank", "has_answer").toPandas().sort_values(["qid", "rank"])
        flags = {int(q): list(g["has_answer"].astype(bool)) for q, g in flags.groupby("qid")}
        dic = idx.dictionary.select("term", "df", "idf").toPandas()
        op.problems += checks.check_dictionary(
            dict(zip(dic["term"], dic["df"].astype(int))),
            idx.stats.n_docs, idx.stats.avgdl, self.oracle_idx,
        )
        idf = dict(zip(dic["term"], dic["idf"].astype(float)))
        problems, self.info["idf_one_ulp_terms"] = checks.check_idf(idf, self.oracle_idx)
        op.problems += problems
        hits.unpersist()
        docs.unpersist()
        got_acc = {int(r["k"]): int(r["hits"]) for r in acc}
        op.deferred.append(
            lambda: self.check_cycle(qpdf, res_path, pas_path, got_acc, flags, idf)
        )

    def check_cycle(self, qpdf, res_path, pas_path, got_acc, flags, idf) -> List[str]:
        """Sampled questions: top-100 bit-identical to the oracle and every
        hit's has_answer equal to the oracle's. All questions: accuracy@k
        equals the oracle's first-hit fold over the engine's flags."""
        problems = []
        rng = np.random.default_rng([self.seed, 5, len(qpdf)])
        sample = rng.choice(len(qpdf), size=min(self.scale.check_sample, len(qpdf)), replace=False)
        got = self.perturbed(self.read_rankings(res_path), int(qpdf.qid[sample[0]]))
        for i in sample:
            qid, question = int(qpdf.qid[i]), qpdf.question[i]
            problems += checks.check_ranking(
                qid, got.get(qid, []),
                checks.search_with_idf(self.oracle_idx, idf, question, TOP_K),
            )
        pas = pq.read_table(pas_path).to_pandas().sort_values(["qid", "rank"])
        texts = {int(q): list(g["text"]) for q, g in pas.groupby("qid")}
        for i in sample:
            qid = int(qpdf.qid[i])
            problems += checks.check_has_answer(
                qid, flags.get(qid, []), texts.get(qid, []), qpdf.answers[i]
            )
        problems += checks.check_accuracy(
            got_acc, checks.expected_accuracy([flags.get(int(q), []) for q in qpdf.qid], TOP_K)
        )
        return problems


# ------------------------------------------------------------ interactive


class InteractiveHot(Workload):
    name = "interactive_hot"

    def prepare(self) -> None:
        super().prepare()
        self.open_hot_stream()
        self.oracle_idx = self.oracle(self.pages)
        self.memo: Dict[int, list] = {}

    def setup(self) -> None:
        super().setup()
        # untimed: the resident index's idf column, checked and pinned
        dic = self.idx.dictionary.select("term", "idf").toPandas()
        self.idf = dict(zip(dic["term"], dic["idf"].astype(float)))
        self.idf_problems, self.info["idf_one_ulp_terms"] = checks.check_idf(
            self.idf, self.oracle_idx
        )

    def refresh_samples(self) -> List[float]:
        # the resident searcher never reloads in the window: a refresh is a
        # set-up repetition (re-index the corpus and reopen the searcher)
        return self.s["setup_rep_s"]

    def step(self, op: Op) -> None:
        qpdf = self.hot_batch()
        path = self.out_path("res", op.idx)
        t0 = now()
        self.answer(self.fn, qpdf, path, f"batch{op.idx}")
        self.s["batch_s"].append(now() - t0)
        self.s["batch_q"].append(len(qpdf))
        if op.idx == 0:
            op.problems += self.idf_problems
        op.deferred.append(lambda: self.check_batch(qpdf, path))

    def check_batch(self, qpdf, path) -> List[str]:
        got = self.perturbed(self.read_rankings(path), int(qpdf.qid[0]))
        problems = []
        for i in range(min(self.scale.check_sample, len(qpdf))):
            pid = int(qpdf.pool_id[i])
            if pid not in self.memo:
                self.memo[pid] = checks.search_with_idf(
                    self.oracle_idx, self.idf, qpdf.question[i], TOP_K
                )
            problems += checks.check_ranking(int(qpdf.qid[i]), got.get(int(qpdf.qid[i]), []), self.memo[pid])
        return problems


# ------------------------------------------------------------------ crawl


class CrawlRefresh(Workload):
    name = "crawl_refresh"
    id_strategy = "hash"
    # wave 0 is ingested during set-up (the stream's cold start); wave 1 is a
    # plain refresh and wave 2 always compacts, so every run measures both
    min_ops = 2

    def prepare(self) -> None:
        super().prepare()
        sc = self.scale
        self.open_hot_stream()
        # compaction at wave 2, then every 2nd or 3rd wave by seed parity
        period = 2 + self.seed % 2
        self.compact_at = [w for w in range(sc.waves) if w >= 2 and (w - 2) % period == 0]
        self.base_text = dict(zip(self.pages.url, self.pages.text))
        self.truth = dict(self.base_text)  # url -> newest text
        self.rng = np.random.default_rng([self.seed, 13])
        self.layer = {"ingest": [], "compact_ingest": [], "delta_docs": [], "written": [], "user": []}

    def setup(self) -> None:
        super().setup()
        self.landing = os.path.join(self.work, "landing")
        self.delta = os.path.join(self.work, "delta")
        os.makedirs(self.landing)
        self.schema = self.pages_df.schema
        self.policy = ScheduledCompaction(self.pages_df, self.compact_at)
        self.refresher = StreamingIndexRefresher(
            self.spark, self.delta, policy=self.policy, analyzer=self.idx.analyzer
        )
        self.base = self.idx
        self.fresh = None
        # untimed warm-up: wave 0 pays the stream machinery's cold start,
        # and one batch on the base searcher the query path's first use
        wave, _ = self.land(0)
        self.ingest(0, wave)
        warm = self.qpool.iloc[: self.scale.batch][["qid", "question"]]
        self.fn(self.spark.createDataFrame(warm)).write.parquet(self.out_path("warm", 0))

    def ingest(self, w: int, wave: pd.DataFrame) -> None:
        """Run the refresher over the landed wave w (AvailableNow)."""
        self.policy.cycle = w
        q = self.refresher.start(self.landing, self.schema, os.path.join(self.work, "ckpt"))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ingest of wave {w} failed: {q.exception()}")
        for u, t in zip(wave.url, wave.text):
            self.truth[u] = t

    def land(self, c: int) -> tuple:
        """Generate (or load) wave c and move its file into the watched
        directory; returns (wave, file bytes)."""
        if c >= self.scale.waves:
            raise RuntimeError(f"crawl cycle {c} exceeds the scale's {self.scale.waves} waves")
        wave = inputs.crawl_wave(self.cache, self.pages, self.seed, c, self.scale.wave)
        src = inputs.cache_path(self.cache, "wave", self.seed, len(self.pages), c, self.scale.wave)
        tmp = os.path.join(self.landing, f".wave-{c:05d}.parquet")
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(self.landing, f"wave-{c:05d}.parquet"))
        return wave, os.path.getsize(src)

    def step(self, op: Op) -> None:
        c = op.idx + 1  # the wave this cycle lands
        b = f"cycle{c}"
        wave, user_bytes = self.land(c)
        n_compactions = self.refresher.compactions
        t_ingest = time.time()
        t0 = now()
        with self.tr.span("streaming.refresh.ingest", b) as sp:
            self.ingest(c, wave)
        compacted = self.refresher.compactions > n_compactions
        old_base = self.base
        if compacted:
            self.base = self.refresher.current_index
        with self.tr.span("streaming.refresh.fresh_index", b):
            fresh = self.refresher.fresh_index(self.base)
        fn, close = self.open_searcher(fresh, b)
        self.s["refresh_s"].append(now() - t0)

        qpdf = self.hot_batch()
        path = self.out_path("res", c)
        t1 = now()
        self.answer(fn, qpdf, path, b)
        self.s["batch_s"].append(now() - t1)
        self.s["batch_q"].append(len(qpdf))

        # untimed: swap the serving state, then check the fresh index
        self.close()
        if self.fresh is not None and self.fresh is not self.base:
            self.fresh.unpersist()
        self.close, self.fresh = close, fresh
        if compacted:
            old_base.unpersist()
        if self.tr.enabled:
            self.trace_cycle(sp, compacted, t_ingest, user_bytes)
        op.problems += checks.check_doc_count(fresh.stats.n_docs, len(self.truth))
        op.problems += self.check_recrawl(fresh, wave)
        if compacted:
            got = self.perturbed(self.ranked_urls(fresh, path), int(qpdf.qid[0]))
            dic = fresh.dictionary.select("term", "idf").toPandas()
            idf = dict(zip(dic["term"], dic["idf"].astype(float)))
            snapshot = dict(self.truth)
            op.deferred.append(lambda: self.check_compacted(qpdf, got, snapshot, idf))

    def trace_cycle(self, span, compacted, t_ingest, user_bytes) -> None:
        written = 0
        for dp, _, fs in os.walk(self.delta):
            for f in fs:
                p = os.path.join(dp, f)
                if os.path.getmtime(p) >= t_ingest:
                    written += os.path.getsize(p)
        self.layer["written"].append(written)
        self.layer["user"].append(user_bytes)
        if compacted:  # the compaction emptied the delta
            self.layer["compact_ingest"].append(span.duration)
        else:
            self.layer["ingest"].append(span.duration)
            dd = self.refresher.delta_docs()
            self.layer["delta_docs"].append(dd.select("doc_id").distinct().count())

    def check_recrawl(self, fresh, wave) -> List[str]:
        """Sampled re-crawled urls of this wave serve only their newest text."""
        from pyspark.sql import functions as F

        re_urls = [u for u in wave.url if u in self.base_text]
        pick = self.rng.choice(len(re_urls), size=min(self.scale.check_sample, len(re_urls)), replace=False)
        urls = [re_urls[i] for i in pick]
        ids = self.spark.createDataFrame([(u,) for u in urls], "url string").select(
            "url", F.xxhash64("url").alias("doc_id")
        )
        rows = (
            fresh.postings.join(ids, "doc_id")
            .join(fresh.dictionary.select("term_id", "term"), "term_id")
            .select("url", "term", "tf")
            .collect()
        )
        served: Dict[str, Counter] = {}
        for r in rows:
            served.setdefault(r.url, Counter())[r.term] += int(r.tf)
        if self.perturb == "stale_recrawl":
            served[urls[0]] = checks.term_histogram(self.base_text[urls[0]])
        return checks.check_recrawl(served, {u: self.truth[u] for u in urls})

    def ranked_urls(self, fresh, path) -> Dict[int, list]:
        rows = (
            self.spark.read.parquet(path)
            .join(fresh.docstats.select("doc_id", "url"), "doc_id")
            .select("qid", "rank", "url", "score")
            .toPandas()
            .sort_values(["qid", "rank"])
        )
        return {int(q): list(zip(g["url"], g["score"].astype(float))) for q, g in rows.groupby("qid")}

    def check_compacted(self, qpdf, got, snapshot, idf) -> List[str]:
        """After a compaction the index is a full rebuild of the rolled-up
        corpus: its idf is within an ulp of the oracle's over that corpus,
        and sampled questions match the oracle by (url, score)."""
        urls = sorted(snapshot)
        o = checks.oracle_for(range(len(urls)), [snapshot[u] for u in urls])
        problems, _ = checks.check_idf(idf, o)
        for i in range(min(self.scale.check_sample, len(qpdf))):
            qid = int(qpdf.qid[i])
            ranked = checks.search_with_idf(o, idf, qpdf.question[i], len(urls))
            full = [(urls[d], s) for d, s in ranked]
            problems += checks.check_ranking_by_url(qid, got.get(qid, []), full, TOP_K)
        return problems

    def teardown(self) -> None:
        self.close()

    def refresh_layers(self) -> Dict[str, float]:
        L = self.layer
        return {
            "streaming.refresh.ingest_s": median(L["ingest"]),
            "streaming.refresh.fresh_index_s": median(
                [s.duration for s in self.tr.named("streaming.refresh.fresh_index")]
            ),
            "streaming.refresh.delta_docs": median(L["delta_docs"]),
            "streaming.refresh.bytes_written_per_user_byte": (
                sum(L["written"]) / sum(L["user"]) if sum(L["user"]) else 0.0
            ),
            "streaming.refresh.compact_ingest_s": median(L["compact_ingest"]),
            "streaming.refresh.compactions": float(self.refresher.compactions),
        }


WORKLOADS = {w.name: w for w in (OfflineNQ, InteractiveHot, CrawlRefresh)}
