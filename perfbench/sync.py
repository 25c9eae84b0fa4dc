"""``sync``: the Salesforce → warehouse incremental load loop
(``pipeline.run_incremental_load``) against embedded Derby.

Set-up warms the JVM with one small run of the loop on a separate
table. The body is one run of the loop: a full load of the change-log history
into an empty keyed table, ``cycles`` incremental cycles that each first
append a delta (half updates, half new keys, some keys edited twice),
and a final cycle that finds no new records. Every cycle re-reads the
log through the registered ``sf_model`` DataSource, as a sync job
builds its extract afresh on each run.

Correctness: each cycle's ``LoadResult`` counts and watermark must match
the generator's, and after the body every column of every row read back
from Derby must equal the plain-Python latest-per-key state.

Known defect, recorded rather than fixed here:
``run_incremental_load(create_target=True)`` creates the target with an
empty ``overwrite`` write, i.e. with no primary key. Derby then merges
by scanning the table, and PostgreSQL's ``ON CONFLICT`` rejects a table
without a unique key. The benchmark therefore creates the target
itself from ``pg_ddl_from_describe``, which emits ``PRIMARY KEY``.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import SparkSession

import gen
from harness import Body, Op, median

TABLE = "sf_account"
URL = "jdbc:derby:memory:perfbench;create=true"
KEY = "id"
TS = "systemmodstamp"
# Staging-table string types: Spark's default (CLOB on Derby) cannot be
# compared with or assigned to the keyed target's VARCHAR columns.
PROPS = {
    "driver": "org.apache.derby.jdbc.EmbeddedDriver",
    "createTableColumnTypes": "id VARCHAR(18), name VARCHAR(255), industry VARCHAR(64)",
}
# PostgreSQL → Derby column types for the DDL pg_ddl_from_describe emits.
_DERBY_TYPES = [
    (r"\bvarchar\(18\)", "VARCHAR(18)"),
    (r"\btext\b", "VARCHAR(255)"),
    (r"\bvarchar\b(?!\()", "VARCHAR(64)"),
    (r"\bnumeric\(18,2\)", "DECIMAL(18,2)"),
    (r"\binteger\b", "BIGINT"),
    (r"\bboolean\b", "BOOLEAN"),
    (r"\btimestamptz\b", "TIMESTAMP"),
]
NOMINAL_CYCLE_S = 2.0  # one warm 200-change cycle over a ~3k-record log on 4 cores


def derby_ddl(table: str) -> str:
    from salesforce_postgresql_etl_spark.sources.salesforce import pg_ddl_from_describe

    ddl = pg_ddl_from_describe(table, gen.ACCOUNT_FIELDS)
    for pat, rep in _DERBY_TYPES:
        ddl = re.sub(pat, rep, ddl)
    # the upsert's SQL names the table unquoted; Derby folds that to upper case
    return ddl.replace(f'"{table.lower()}"', table, 1)


class Sync:
    name = "sync"
    op_kinds = ("cycle",)

    def __init__(self, spark: SparkSession, work: str, seed: int, seconds: int, smoke: bool):
        from salesforce_postgresql_etl_spark.sources.sf_datasource import (
            SalesforceModelDataSource,
        )

        self.spark = spark
        self.work = work
        self.seed = seed
        self.history = 300 if smoke else 2000
        self.delta = 40 if smoke else 200
        self.cycles = 2 if smoke else max(2, round((seconds - 3) / NOMINAL_CYCLE_S))
        self.page_size = 100 if smoke else 500
        spark.dataSource.register(SalesforceModelDataSource)
        self.deltas: list[dict] = []
        self.loads: list = []  # LoadResult of every cycle of the last body
        self.log: gen.ChangeLog | None = None
        self.prep_s = 0.0  # warm-up

    # -- helpers --------------------------------------------------------

    def _jdbc(self, *statements: str, ignore_errors: bool = False) -> None:
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(URL, jvm.java.util.Properties())
        try:
            stmt = conn.createStatement()
            for sql in statements:
                try:
                    stmt.execute(sql)
                except Exception:
                    if not ignore_errors:
                        raise
            stmt.close()
        finally:
            conn.close()

    def _reset(self, table: str, log_path: str, wm_path: str, history: int) -> tuple:
        from salesforce_postgresql_etl_spark.sources.incremental import WatermarkStore

        self._jdbc(f"DROP TABLE {table}", f"DROP TABLE {table}__staging", ignore_errors=True)
        self._jdbc(derby_ddl(table))
        if os.path.exists(wm_path):
            os.remove(wm_path)
        log = gen.ChangeLog(log_path, self.seed)
        log.write_history(history)
        return log, WatermarkStore(wm_path)

    def _source(self, path: str):
        df = (
            self.spark.read.format("sf_model")
            .option("describe", json.dumps(gen.ACCOUNT_FIELDS))
            .option("path", path)
            .option("page_size", str(self.page_size))
            .load()
        )
        return df.toDF(*[c.lower() for c in df.columns])

    def _cycle(self, log: gen.ChangeLog, store, table: str, expect: tuple[int, int], tracer) -> Op:
        from salesforce_postgresql_etl_spark import pipeline

        s = time.perf_counter()
        try:
            with tracer.span("sources.sf_model.load", "sources"):
                src = self._source(log.path)
            res = pipeline.run_incremental_load(src, TS, [KEY], store, table, URL, PROPS, dialect="ansi")
        except Exception as e:  # a failing cycle is a failed operation
            return Op("cycle", table, time.perf_counter() - s, ok=False, error=repr(e)[:300])
        sec = time.perf_counter() - s
        wm = log.max_ts.isoformat(sep=" ")
        got = (res.rows_extracted, res.rows_loaded, res.watermark)
        self.loads.append(res)
        if got != (*expect, wm):
            return Op("cycle", table, sec, ok=False, error=f"LoadResult {got} != {(*expect, wm)}")
        return Op("cycle", table, sec, records=res.rows_extracted)

    # -- workload protocol ---------------------------------------------

    def _loop(self, table: str, name: str, history: int, cycles: int, delta: int, tracer) -> Body:
        """One run of the sync loop from an empty target: full load,
        ``cycles`` delta cycles, one no-op cycle."""
        data = os.path.join(self.work, "data")
        log, store = self._reset(
            table, os.path.join(data, f"{name}.jsonl"), os.path.join(data, f"{name}_wm.json"), history
        )
        self.log, self.deltas, self.loads = log, [], []
        body = Body()
        t0 = time.perf_counter()
        op = self._cycle(log, store, table, (history, history), tracer)
        op.kind = "full_load"
        body.ops.append(op)
        for _ in range(cycles):
            d = log.append_delta(delta)
            self.deltas.append(d)
            body.ops.append(self._cycle(log, store, table, (d["changes"], d["distinct_keys"]), tracer))
        op = self._cycle(log, store, table, (0, 0), tracer)
        op.kind = "noop_cycle"
        body.ops.append(op)
        body.t0, body.seconds = t0, time.perf_counter() - t0
        return body

    def setup(self) -> None:
        """Warm-up: one small run of the loop on its own table, so the
        body measures the loop in a warm JVM with running Python workers."""
        from spans import Tracer

        t0 = time.perf_counter()
        warm = self._loop(f"{TABLE}_warmup", "warmup", 200, 1, 50, Tracer())
        failed = [o.error for o in warm.ops if not o.ok]
        if failed:
            raise RuntimeError(f"sync warm-up failed: {failed}")
        self._jdbc(f"DROP TABLE {TABLE}_warmup")
        self.prep_s = time.perf_counter() - t0

    def trace_hooks(self, tracer) -> None:
        from salesforce_postgresql_etl_spark import pipeline

        tracer.wrap(pipeline, "run_incremental_load", "pipeline", name="pipeline.cycle")
        tracer.wrap(pipeline, "incremental_extract", "sources", name="sources.incremental.incremental_extract")
        tracer.wrap(pipeline, "advance_watermark", "sources", name="sources.incremental.advance_watermark")
        tracer.wrap(pipeline, "upsert", "sources", name="sources.jdbc.upsert")

    def body(self, tracer) -> Body:
        return self._loop(TABLE, "accounts", self.history, self.cycles, self.delta, tracer)

    def verify(self) -> dict[str, str]:
        """Compare every column of the warehouse with the generator's
        latest-per-key state. A mismatch fails every cycle (all ops are
        named after the table): which cycle wrote it is unknown."""
        df = (
            self.spark.read.format("jdbc")
            .option("url", URL)
            .option("dbtable", TABLE)
            .options(driver=PROPS["driver"])
            .load()
        )
        got = {tuple(r)[0]: tuple(r) for r in df.collect()}
        want = self.log.expected
        if got.keys() != want.keys():
            return {TABLE: f"warehouse keys differ: {len(got)} rows != {len(want)} expected"}
        for k, row in want.items():
            if got[k] != row:
                return {TABLE: f"warehouse row {k}: {got[k]!r} != {row!r}"}
        return {}

    def traffic(self) -> dict:
        n = sum(d["changes"] for d in self.deltas)
        return {
            "history_rows": self.history,
            "delta_rows": self.delta,
            "cycles": self.cycles,
            "update_share": sum(d["updates"] for d in self.deltas) / max(1, n),
            "insert_share": sum(d["inserts"] for d in self.deltas) / max(1, n),
            "repeat_edit_share": sum(d["repeat_edits"] for d in self.deltas) / max(1, n),
            "log_rows_final": self.log.lines if self.log else 0,
            "warehouse_rows": len(self.log.expected) if self.log else 0,
        }

    def layer_metrics(self, tracer, sm) -> dict:
        cycles = tracer.by_name("pipeline.cycle")
        # first = full load, last = no-op; the rest are delta cycles
        deltas = cycles[1:-1]
        out = {
            "pipeline.full_load_s": cycles[0].seconds if cycles else 0.0,
            "pipeline.noop_cycle_s": cycles[-1].seconds if cycles else 0.0,
            "pipeline.cycle_s": median([s.seconds for s in deltas]),
        }
        child_time = [sum(tracer.spans[c].seconds for c in s.children) for s in deltas]
        out["pipeline.self_s"] = median([s.seconds - c for s, c in zip(deltas, child_time)])
        ups = tracer.by_name("sources.jdbc.upsert")
        out["sources.jdbc.upsert_s"] = median([s.seconds for s in ups[1:]])
        out["sources.incremental.advance_watermark_s"] = median(
            [s.seconds for s in tracer.by_name("sources.incremental.advance_watermark")]
        )
        out["pipeline.rows_extracted"] = sum(r.rows_extracted for r in self.loads)
        out["pipeline.rows_loaded"] = sum(r.rows_loaded for r in self.loads)
        out["sources.jdbc.upsert_rows"] = out["pipeline.rows_loaded"]
        if sm is not None:
            sids = [d for s in cycles for d in tracer.descendants(s.sid)]
            read = sm.scan_rows(sids, "BatchScan sf_model")
            out["sources.sf_model.rows_read"] = read
            out["sources.sf_model.useful_ratio"] = out["pipeline.rows_extracted"] / read if read else 0.0
        return out


