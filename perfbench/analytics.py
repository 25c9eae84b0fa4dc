"""``analytics``: the read-only workload. Its body runs twelve
registered queries over seeded star-schema and event fixtures, each
executed to the noop sink (``Queries``), then the LLM-data cleaning
chain over seeded documents and embeddings (``corpus.Corpus``). Both
parts share one Spark session, so a run pays for one session start and
one cold JVM.

``Queries``: set-up writes the fixtures and runs one pass that collects every
query's rows (the JVM warm-up doubles as the result capture); after the
timed body those rows are compared with DuckDB running the registry's
oracle SQL on the same files. An operation is one query: build the
DataFrame (driver planning) and execute it.
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import SparkSession

import check
import gen
from harness import Body, Op, median

QUERIES = (
    "q_agg_group",
    "q_join_star",
    "q_win_dedup_latest",
    "q_sort",
    "q_snapshot_diff",
    "q_funnel",
    "q_sessionize",
    "q_rollup_cascade",
    "q_join_asof",
    "q_agg_countdistinct",
    "q_quantile_sketch",
    "q_cohort_retention",
)
# Fixture tables each query scans: its input rows per execution.
TABLES_READ = {
    "q_agg_group": ("lineitem",),
    "q_join_star": ("lineitem", "orders", "customer", "nation", "region"),
    "q_sort": ("orders",),
    "q_snapshot_diff": ("orders",),
}
# Seconds of ``--seconds`` per query pass (one warm pass at sf0.01 takes
# about 6 s on 4 cores; the corpus chain takes the rest of the body).
NOMINAL_PASS_S = 12.0


class Queries:

    def __init__(self, spark: SparkSession, work: str, seed: int, seconds: int, smoke: bool):
        from salesforce_postgresql_etl_spark.queries import _REGISTRY, all_queries

        self.spark = spark
        self.seed = seed
        self.sf = 0.001 if smoke else 0.01
        self.passes = 1 if smoke else max(1, round(seconds / NOMINAL_PASS_S))
        self.dir = os.path.join(work, "data", "fixtures")
        self.fns = all_queries()
        self.oracle = {q: _REGISTRY[q].oracle for q in QUERIES}
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.results: dict[str, tuple[list[str], list]] = {}
        self.prep_s = 0.0  # warm-up pass that captures the results

    def setup(self) -> None:
        self.rows = gen.write_fixtures(self.dir, self.seed, self.sf)
        t0 = time.perf_counter()
        for q in self.order:
            df = self.fns[q](self.spark, self.dir)
            self.results[q] = (df.columns, df.collect())
        self.prep_s = time.perf_counter() - t0

    def trace_hooks(self, tracer) -> None:
        import importlib

        for module in {self.fns[q].__module__ for q in QUERIES}:
            mod = importlib.import_module(module)
            if hasattr(mod, "load"):
                tracer.wrap(mod, "load", "sources", name="sources.load")

    def input_rows(self, q: str) -> int:
        return sum(self.rows[t] for t in TABLES_READ.get(q, ("events",)))

    def body(self, tracer) -> Body:
        body = Body()
        t0 = time.perf_counter()
        for _ in range(self.passes):
            for q in self.order:
                s = time.perf_counter()
                try:
                    with tracer.span(f"queries.{q}.build", "queries"):
                        df = self.fns[q](self.spark, self.dir)
                    with tracer.span(f"queries.{q}.exec", "queries"):
                        df.write.format("noop").mode("overwrite").save()
                    body.ops.append(Op("query", q, time.perf_counter() - s, self.input_rows(q)))
                except Exception as e:  # a failing query is a failed operation
                    body.ops.append(Op("query", q, time.perf_counter() - s, ok=False, error=repr(e)[:300]))
        body.t0, body.seconds = t0, time.perf_counter() - t0
        return body

    def verify(self) -> dict[str, str]:
        """Query name → mismatch description, for every query whose
        captured rows differ from the DuckDB oracle."""
        import duckdb

        bad = {}
        con = duckdb.connect()
        try:
            for t in gen.FIXTURE_TABLES:
                path = os.path.join(self.dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in QUERIES:
                rel = con.sql(self.oracle[q])
                err = check.diff(q, self.results[q], (rel.columns, rel.fetchall()))
                if err:
                    bad[q] = err
        finally:
            con.close()
        return bad

    def traffic(self) -> dict:
        return {
            "scale_factor": self.sf,
            "fixture_rows": self.rows,
            "queries": self.order,
            "passes": self.passes,
            "result_rows": {q: len(self.results[q][1]) for q in QUERIES},
        }

    def layer_metrics(self, tracer, sm) -> dict:
        out = {}
        builds = [s for s in tracer.spans if s.name.endswith(".build")]
        execs = [s for s in tracer.spans if s.name.endswith(".exec")]
        out["queries.build_s"] = sum(s.seconds for s in builds) / max(1, len(builds))
        out["queries.exec_s"] = sum(s.seconds for s in execs) / max(1, len(execs))
        loads = tracer.by_name("sources.load")
        out["sources.load_s"] = sum(s.seconds for s in loads) / max(1, len(builds))
        for q in QUERIES:
            out[f"queries.{q}.exec_s"] = median([s.seconds for s in tracer.by_name(f"queries.{q}.exec")])
        return out


class Analytics:
    """The query passes, then the corpus chain, as one workload. An
    operation is one query or one chain stage."""

    name = "analytics"
    op_kinds = ("query", "stage")

    def __init__(self, spark: SparkSession, work: str, seed: int, seconds: int, smoke: bool):
        from corpus import Corpus

        self.parts = (Queries(spark, work, seed, seconds, smoke), Corpus(spark, work, seed, seconds, smoke))
        self.prep_s = 0.0  # warm-up pass and index build

    def setup(self) -> None:
        for p in self.parts:
            p.setup()
        self.prep_s = sum(p.prep_s for p in self.parts)

    def trace_hooks(self, tracer) -> None:
        for p in self.parts:
            p.trace_hooks(tracer)

    def body(self, tracer) -> Body:
        bodies = [p.body(tracer) for p in self.parts]
        body = Body(t0=bodies[0].t0, ops=[o for b in bodies for o in b.ops])
        body.seconds = bodies[-1].t0 + bodies[-1].seconds - body.t0
        return body

    def verify(self) -> dict[str, str]:
        return {k: v for p in self.parts for k, v in p.verify().items()}

    def traffic(self) -> dict:
        return {p.__class__.__name__.lower(): p.traffic() for p in self.parts}

    def layer_metrics(self, tracer, sm) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics(tracer, sm).items()}
