"""``analytics_sf0.1``: the registry's 11 ``bench=True`` queries plus three
build-bound ones, over seeded sf0.1 tables with the table cache off.

The timed part of a query is ``Query.fn`` (the build, which runs eager
checkpoint jobs for the build-bound queries) plus a write of its result
(the execution) to a parquet file in the run's work directory. After the
timed window, each written result is compared with the query's DuckDB
oracle over the same sf0.1 tables through the repository's
``tests/oracle_harness.py`` (DuckDB reads the written files), so the
timed results themselves are checked without running any query a second
time. A warm-up pass of the bench queries over seeded sf0.01 tables,
untimed and unchecked, compiles their code first; the oracles' answers are
computed in a thread meanwhile.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

from perfbench import datagen
from perfbench.measure import exec_totals, job_ids, quantile, set_group

SF = 0.1
# the warm-up compiles the same plans over tables a tenth the size: most of
# a cold query's extra time is planning and code generation, not rows
WARMUP_SF = 0.01
WARMUP_THREADS = 3
SMOKE_SF = 0.001
# eager checkpoints run jobs inside Query.fn for these three
ITERATIVE = ("q_customer_rfm", "q_caliper_matching", "q_abc_xyz_matrix")
SMOKE_QUERIES = ("q01_pricing_summary", "q_events_hourly", "q_customer_rfm")


class _Written:
    """A result written by Spark, read by DuckDB, with the two things
    ``oracle_harness.compare`` takes from a DataFrame: ``columns`` and
    ``collect()``."""

    def __init__(self, con, path: str):
        rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        self.columns = [c[0] for c in rel.description]
        self._rows = rel.fetchall()

    def collect(self) -> list[tuple]:
        return self._rows


class _Answered:
    """Oracle answers computed ahead, with the two things
    ``oracle_harness.compare`` takes from a DuckDB connection:
    ``execute(sql)`` and, on its result, ``description`` and ``fetchall()``."""

    def __init__(self, con, sqls):
        self._answers = {}
        for sql in sqls:
            cur = con.execute(sql)
            self._answers[sql] = (cur.description, cur.fetchall())

    def execute(self, sql: str) -> "_Answered":
        self.description, self._rows = self._answers[sql]
        return self

    def fetchall(self) -> list[tuple]:
        return self._rows


class Analytics:
    name = "analytics_sf0.1"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = SMOKE_SF if ctx.smoke else SF
        self.warmup_sf = SMOKE_SF if ctx.smoke else WARMUP_SF
        self.dir = os.path.join(ctx.work, "tables")
        self.warmup_dir = os.path.join(ctx.work, "warmup-tables")
        self.results = os.path.join(ctx.work, "results")
        self.passes = 0

    def prepare(self) -> None:
        datagen.write_tables(self.dir, self.ctx.seed, self.sf)
        datagen.write_tables(self.warmup_dir, self.ctx.seed + 1, self.warmup_sf)

    def setup(self, spark) -> None:
        from watermill_spark.analytics.registry import REGISTRY, TABLES, load

        import watermill_spark.analytics  # noqa: F401  (registers every query)

        for t in TABLES:
            load(spark, self.dir, t)
        tests = os.path.join(self.ctx.root, "tests")
        if tests not in sys.path:
            sys.path.insert(0, tests)
        import oracle_harness

        self.oracle_harness = oracle_harness
        names = [n for n, q in REGISTRY.items() if q.bench] + list(ITERATIVE)
        self.queries = [REGISTRY[n] for n in names
                        if not self.ctx.smoke or n in SMOKE_QUERIES]

    def _answer_oracles(self) -> None:
        """Run every query's oracle over the sf0.1 tables (in a thread
        during the untimed warm-up, two DuckDB threads)."""
        try:
            con = self.oracle_harness.duck_connect(self.dir)
            try:
                con.execute("SET threads = 2")
                self.answers = _Answered(con, {q.oracle for q in self.queries})
            finally:
                con.close()
        except BaseException as e:  # surfaced by the main thread
            self.answers = e

    def _check(self, runs) -> dict[str, str]:
        """Each written result of ``runs`` against its query's oracle."""
        if isinstance(self.answers, BaseException):
            raise self.answers
        oracle = {q.name: q.oracle for q in self.queries}
        con = duckdb.connect()
        wrong = {}
        try:
            for r in (r for run in runs for r in run):
                report = self.oracle_harness.compare(_Written(con, r["result"]), self.answers, oracle[r["name"]])
                if not report["ok"]:
                    wrong[f"{r['name']}#{r['pass']}"] = report["detail"][:200]
        finally:
            con.close()
        return wrong

    def _warmup(self, spark) -> None:
        """Compile the bench queries' code over the small warm-up tables,
        three queries at a time (much of their time is planning and
        scheduling, not cores). The build-bound three are left out: their
        eager checkpoints make a warm-up cost about as much as a timed run,
        and on a 4-core host it saves them about 1.7 s of 12 s."""
        def run(q):
            q.fn(spark, self.warmup_dir).write.format("noop").mode("overwrite").save()

        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            list(pool.map(run, [q for q in self.queries if q.name not in ITERATIVE]))

    def _pass(self, spark) -> list[dict]:
        """One timed pass; per query: build and exec seconds, job groups,
        where its result was written and, when tracing, planning seconds."""
        ctx = self.ctx
        self.passes += 1
        out = []
        for q in self.queries:
            g_build, g_exec = f"perfbench:build:{q.name}:{self.passes}", f"perfbench:exec:{q.name}:{self.passes}"
            result = os.path.join(self.results, f"{q.name}-{self.passes}")
            set_group(spark, g_build)
            t0 = time.perf_counter()
            with ctx.tracer.span("analytics", "build", query=q.name):
                df = q.fn(spark, self.dir)
            t1 = time.perf_counter()
            plan_s = 0.0
            if ctx.tracer.enabled:
                with ctx.tracer.span("analytics", "plan", query=q.name):
                    df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - t1
            set_group(spark, g_exec)
            t2 = time.perf_counter()
            with ctx.tracer.span("analytics", "exec", query=q.name):
                df.write.parquet(result)
            t3 = time.perf_counter()
            out.append({"name": q.name, "pass": self.passes, "result": result, "build_s": t1 - t0,
                        "plan_s": plan_s, "exec_s": t3 - t2, "groups": (g_build, g_exec)})
        set_group(spark, "perfbench:idle")
        return out

    def _passes(self, spark) -> list[list[dict]]:
        """Whole passes until the window has passed (at least one)."""
        runs, t_end = [], time.perf_counter() + self.ctx.seconds
        while not runs or time.perf_counter() < t_end:
            runs.append(self._pass(spark))
        return runs

    @staticmethod
    def _e2e(runs) -> tuple[dict, dict]:
        per_query = [r["build_s"] + r["exec_s"] for run in runs for r in run]
        total = sum(per_query)
        groups = {
            "analytics.bench_queries_s": sum(r["build_s"] + r["exec_s"] for run in runs for r in run
                                             if r["name"] not in ITERATIVE) / len(runs),
            "analytics.iterative_queries_s": sum(r["build_s"] + r["exec_s"] for run in runs for r in run
                                                 if r["name"] in ITERATIVE) / len(runs),
        }
        return {
            "latency_p50_ms": quantile(per_query, 0.5) * 1000.0,
            "latency_p90_ms": quantile(per_query, 0.9) * 1000.0,
            "items_per_s": len(per_query) / total,
        }, groups

    def measure(self, spark) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        oracles = threading.Thread(target=self._answer_oracles, name="perfbench-oracles")
        oracles.start()
        self._warmup(spark)
        oracles.join()
        warmup_s = time.perf_counter() - t0
        runs = self._passes(spark)
        e2e, groups = self._e2e(runs)
        out = {
            "e2e": e2e,
            "invalid": [],
            "details": {"samples": len(runs[0]), "passes": len(runs), "warmup_s": warmup_s,
                        "query_s": {r["name"]: r["build_s"] + r["exec_s"] for r in runs[0]}},
            "phase_metrics": {k.split(".", 1)[1]: v for k, v in groups.items()},
        }
        if ctx.trace:
            ctx.tracer.enabled = True
            traced = self._passes(spark)
            ctx.tracer.enabled = False
            out["traced_e2e"], layers = self._e2e(traced)
            rows = [r for run in traced for r in run]
            build_jobs = set().union(*(job_ids(spark, r["groups"][0]) for r in rows))
            exec_jobs = set().union(*(job_ids(spark, r["groups"][1]) for r in rows))
            n = len(traced)
            layers.update({
                "analytics.build_s": sum(r["build_s"] for r in rows) / n,
                "analytics.plan_s": sum(r["plan_s"] for r in rows) / n,
                "analytics.exec_s": sum(r["exec_s"] for r in rows) / n,
                "analytics.build_jobs": len(build_jobs) / n,
                "analytics.exec_jobs": len(exec_jobs) / n,
            })
            layers.update({f"exec.{k}": v for k, v in exec_totals(spark, build_jobs | exec_jobs).items()})
            out["layers"] = layers
            out["details"]["jobs_by_query"] = {
                r["name"]: {"build": len(job_ids(spark, r["groups"][0])), "exec": len(job_ids(spark, r["groups"][1]))}
                for r in traced[-1]
            }
            runs += traced
        t0 = time.perf_counter()
        wrong = self._check(runs)
        out["details"]["check_s"] = time.perf_counter() - t0
        out["attempted"] = sum(len(run) for run in runs)
        out["failures"] = {"oracle_mismatch": len(wrong)}
        out["details"]["mismatches"] = wrong
        return out
