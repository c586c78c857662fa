"""The analytics workload: declared queries in a closed loop, one client,
one query at a time.

One operation is one query: ``Query.spark`` builds the DataFrame (plan
construction, including any jobs the operators launch while building), then
the plan executes to the ``noop`` sink. One pass runs the whole list in
order. Outputs are checked once, in an untimed first pass that collects each
result and compares it with the query's DuckDB oracle.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from mrcond_spark.queries import all_queries

import oracle
from host import jvm_full_gc, jvm_gc_ms, tree_cpu_s
from tracing import pass_span

#: relational (catalog + Catalyst), operator-built (a build-time
#: checkpoint and partition probe) and Python/Arrow UDF queries, in pass order
QUERIES = (
    "q10_agg_tpch_q1",
    "q03_join_chain",
    "q88_decontamination",
    "q43_pandas_udf_hist",
)
TIER = {
    "q10_agg_tpch_q1": "relational",
    "q03_join_chain": "relational",
    "q88_decontamination": "operators",
    "q43_pandas_udf_hist": "llm_heavy",
}

class BatchWorkload:
    def __init__(self, spark, sf_dir: str) -> None:
        registry = all_queries()
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = [registry[n] for n in QUERIES]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.gen_late_ms: list[float] = []  # no generator in this workload

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {why}")

    def check_pass(self) -> None:
        """Untimed first pass: build, collect and compare every query with
        its DuckDB oracle, which runs on a second thread meanwhile."""
        sqls = {q.name: q.oracle for q in self.queries if q.oracle is not None}
        with ThreadPoolExecutor(1) as pool:
            want = pool.submit(oracle.expected, self.sf_dir, sqls)
            results = []
            for q in self.queries:
                self.attempted += 1
                try:
                    df = q.spark(self.spark, self.sf_dir)
                    results.append((q, df.columns, [tuple(r) for r in df.collect()]))
                except Exception as e:  # a raising query is a failed operation
                    self._fail(q.name, f"raised {type(e).__name__}: {e}")
            expected = want.result()
        for q, cols, rows in results:
            why = oracle.mismatch(expected.get(q.name), cols, rows)
            if why:
                self._fail(q.name, why)

    def run_query(self, q, tracer=None) -> float | None:
        """One operation; its wall in seconds, or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                q.spark(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("query", "workload", query=q.name, tier=TIER[q.name]) as attrs:
                    with tracer.span("build", "queries", query=q.name):
                        df = q.spark(self.spark, self.sf_dir)
                    attrs["analysis_ms"] = analysis_ms(df)
                    with tracer.span("execute", "exec", query=q.name):
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            self._fail(q.name, f"raised {type(e).__name__}: {e}")
            return None
        return time.perf_counter() - t0

    def timed(self, seconds: float, tracer=None, min_passes: int = 1) -> tuple[list, list, list]:
        """Whole passes until ``seconds`` have elapsed and at least
        ``min_passes`` ran. Returns (pass walls, pass CPU seconds, per-pass
        lists of the walls of the queries that did not raise)."""
        passes, cpu, per_query = [], [], []
        deadline = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < deadline:
            jvm_full_gc(self.spark)
            t0, c0 = time.perf_counter(), tree_cpu_s()
            if tracer is None:
                walls = [self.run_query(q) for q in self.queries]
            else:
                with pass_span(tracer, lambda: jvm_gc_ms(self.spark)):
                    walls = [self.run_query(q, tracer) for q in self.queries]
            passes.append(time.perf_counter() - t0)
            cpu.append(tree_cpu_s() - c0)
            per_query.append([w for w in walls if w is not None])
        return passes, cpu, per_query


def analysis_ms(df) -> float | None:
    """Catalyst analysis time of ``df`` from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    if not phases.contains("analysis"):
        return None
    p = phases.apply("analysis")
    return float(p.endTimeMs() - p.startTimeMs())
