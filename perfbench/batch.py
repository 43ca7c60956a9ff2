"""Batch-job workloads: ``mr_olap`` (and ``llm_pipeline``, runnable but
not in ``BENCHMARK.json``; see README.md).

One client sends the workload's registered jobs in a closed loop, in an
order the seed shuffles. The first pass is the warm-up: it runs every
job once, untimed and several at a time, so code generation, the JVM's
JIT and the Python workers are warm. Timed passes follow until ``--seconds`` have passed,
at least two: the JIT is still improving during the first, so a fixed
minimum keeps every run at the same point of that ramp. A job's latency
runs from calling ``QuerySpec.fn`` until its whole result has arrived at
the client as Arrow. Every output, of the warm-up and of the timed
passes, is checked against the job's DuckDB oracle after the timed
passes.
"""

from __future__ import annotations

import random
import time

import pyarrow as pa

MR_OLAP = (
    "q1_pricing_summary q3_shipping_priority q5_local_supplier_volume "
    "q6_forecast_revenue q13_customer_distribution q18_large_orders "
    "q21_sole_returner wordcount chain_map_reduce top_k_per_group "
    "secondary_sort join_asof session_window_agg value_histogram "
    "teragen_sorted").split()
LLM_PIPELINE = (
    "minhash_dedup_pairs pipeline_clean_corpus ngram_jaccard_pairs "
    "simhash_signatures semantic_dedup knn_ivf maxsim_retrieval "
    "hybrid_rrf_retrieval soft_dedup_weights tokenizer_compression "
    "kn_trigram_perplexity exact_substring_spans doc_quality "
    "media_features").split()
JOBS = {"mr_olap": MR_OLAP, "llm_pipeline": LLM_PIPELINE}


class Result:
    """One request: latency, output and check outcome."""

    def __init__(self, kind: str, latency_s: float, rid: str, *,
                 table: pa.Table | None = None, dtypes=None,
                 error: str | None = None, got=None, expected=None,
                 rows: int = 1):
        self.kind = kind
        self.latency_s = latency_s
        self.rid = rid
        self.table = table
        self.dtypes = dtypes
        self.error = error
        self.got = got
        self.expected = expected
        self.rows = rows
        self.problems: list[str] = []
        self.done_at = time.perf_counter()

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


def error_text(e: BaseException) -> str:
    return f"{type(e).__name__}: {e}"[:300]


class BatchRunner:
    """Runs passes of a batch workload and checks their outputs."""

    def __init__(self, spark, specs: dict, data_dir: str, tracer, status):
        self.spark = spark
        self.specs = specs
        self.data_dir = data_dir
        self.tracer = tracer
        self.status = status      # SparkStatus in a traced run, else None
        self.traced = False       # instrument the current pass
        self.jobstats: dict[str, list] = {}
        self.build_s: dict[str, float] = {}
        self.eager_jobs: dict[str, int] = {}

    @staticmethod
    def order(workload: str, seed: int, pass_no: int) -> list[str]:
        names = list(JOBS[workload])
        random.Random(f"{seed}:{pass_no}").shuffle(names)
        return names

    # -- one job ----------------------------------------------------------
    def _begin(self, rid: str) -> float:
        if self.traced:
            self.tracer.set_request(rid)
            self.status.begin(rid)
        return time.perf_counter()

    def _build(self, name: str, rid: str, t0: float):
        with self.tracer.span(name, "queries"):
            df = self.specs[name].fn(self.spark, self.data_dir)
        self.build_s[rid] = time.perf_counter() - t0
        if self.traced:
            self.eager_jobs[rid] = self.status.eager_jobs(rid)
        return df

    def _execute(self, name: str, rid: str, df, t0: float) -> Result:
        with self.tracer.span(name, "spark"):
            table = df.toArrow()
        res = Result(name, time.perf_counter() - t0, rid, table=table,
                     dtypes=df.dtypes, rows=table.num_rows)
        self._end(rid)
        return res

    def _end(self, rid: str) -> None:
        if self.traced:
            self.jobstats[rid] = self.status.jobs(rid)
            self.status.end()
            self.tracer.set_request(None)

    def _failed(self, name: str, rid: str, t0: float, e) -> Result:
        res = Result(name, time.perf_counter() - t0, rid, error=error_text(e))
        self._end(rid)
        return res

    # -- passes -------------------------------------------------------------
    def run_job(self, name: str, tag: str) -> Result:
        rid = f"{tag}:{name}"
        t0 = self._begin(rid)
        try:
            df = self._build(name, rid, t0)
            return self._execute(name, rid, df, t0)
        except Exception as e:  # noqa: BLE001 — counted as failed
            return self._failed(name, rid, t0, e)

    def run_pass(self, order: list[str], tag: str) -> list[Result]:
        return [self.run_job(name, tag) for name in order]

    def warm_up(self, order: list[str], threads: int) -> list[Result]:
        """Untimed pass with ``threads`` jobs in flight: cold jobs are
        mostly single-threaded planning and code generation, so running
        them side by side warms the same code paths in less wall time."""
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(threads) as pool:
            return list(pool.map(lambda n: self.run_job(n, "warm"), order))

    def run_pass_audited(self, order: list[str], tag: str, plan_md: str,
                         root: str) -> tuple[list[Result], dict]:
        """A traced pass driven by tools/plan_audit.main, so each job's
        final plan is audited right after it runs."""
        from perfbench.trace import plan_features

        results: dict[str, Result] = {}
        starts: dict[str, float] = {}

        def build(name):
            rid = f"{tag}:{name}"

            def fn(_spark):
                starts[name] = t0 = self._begin(rid)
                try:
                    return self._build(name, rid, t0)
                except Exception as e:
                    results[name] = self._failed(name, rid, t0, e)
                    raise
            return fn

        def execute(name):
            rid = f"{tag}:{name}"

            def ex(df):
                try:
                    results[name] = self._execute(name, rid, df, starts[name])
                except Exception as e:
                    results[name] = self._failed(name, rid, starts[name], e)
                    raise
                return results[name].table
            return ex

        plans = plan_features(root, self.spark,
                              {n: (build(n), execute(n)) for n in order},
                              plan_md)
        return [results[n] for n in order], plans

    def check(self, results: list[Result], oracle,
              wrong: str | None = None) -> None:
        """Compare each output with its oracle. An output equal to one
        of the same job that already passed passes too. ``wrong`` names a
        job whose expected answer is replaced by a wrong one (self-test)."""
        passed: dict[str, list[pa.Table]] = {}
        for r in results:
            if r.error is not None:
                continue
            sql = self.specs[r.kind].sql
            if sql is None:
                r.problems = ["no oracle SQL registered"]
                continue
            seen = passed.setdefault(r.kind, [])
            if any(t.equals(r.table) for t in seen):
                r.table = None
                continue
            exp = None
            if r.kind == wrong:
                exp = dict(oracle.expected(sql), digest="0" * 64)
            r.problems = oracle.problems(sql, r.dtypes, r.table, exp)
            if not r.problems:
                seen.append(r.table)
            r.table = None
