"""The LLM-data cleaning chain over seeded documents and embeddings:
the second half of the ``analytics`` workload's body.

One pass runs seven stages, each an operation whose output is
persisted and counted so the next stage reads it:

1. ``repetition.repetition_profile``  — quality gate (keep flag);
2. ``dupspans.strip_dup_spans``        — cut repeated 8-token spans;
3. ``dedup.neardup_pairs``             — MinHash-LSH word-set pairs;
4. ``clustering.dedup_clusters``       — connected components;
5. ``simsearch.semdedup_pairs``        — k-means-bucketed cosine pairs
   (centroids trained once in set-up: the index build);
6. ``decontam.contamination_overlap``  — trigram overlap with an eval set;
7. ``mixture.budget_select``           — per-source token budget.

After the body the last pass's outputs are compared, stage by stage,
with a reference chain computed from the generated inputs alone: DuckDB
running the registry's oracle SQL for the operator (all-pairs Jaccard
and cosine for the two pair searches, i.e. their brute-force form) or
an equivalent SQL statement, and plain Python union-find for the
clusters. The reference is computed outside the
timed body and set-up, and cached per seed as row digests.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import check
import gen
from harness import Body, Op, cache_dir, median

SPAN_K = 8
NEARDUP_THETA = 0.8
# r = 4 rows per band: at word-set Jaccard 0.92 (two independently
# edited copies of one original) the miss probability is ~1e-9.
MINHASH_HASHES, MINHASH_BANDS = 64, 16
SEM_THETA = 0.9
N_CLUSTERS = 10
DECONTAM_K = 2
TOKEN_BUDGET = 1500
STAGES = (
    "operators.repetition.repetition_profile",
    "operators.dupspans.strip_dup_spans",
    "operators.dedup.neardup_pairs",
    "operators.clustering.dedup_clusters",
    "operators.simsearch.semdedup_pairs",
    "operators.decontam.contamination_overlap",
    "operators.mixture.budget_select",
)
# Seconds of ``--seconds`` per chain pass (one pass over 400 documents
# takes 12-15 s on 4 cores; the query passes take the rest of the body).
NOMINAL_PASS_S = 16.0

_TRIGRAMS = (
    "CASE WHEN size(t) >= 3 THEN "
    "array_distinct(transform(sequence(1, size(t) - 2), "
    "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))) "
    "ELSE CAST(array() AS ARRAY<STRING>) END"
)


def _trigrams(df, text_col: str):
    t = df.select("doc_id", F.split(F.col(text_col), " ").alias("t"))
    return t.select("doc_id", F.explode(F.expr(_TRIGRAMS)).alias("g"))


class Corpus:

    def __init__(self, spark: SparkSession, work: str, seed: int, seconds: int, smoke: bool):
        self.spark = spark
        self.seed = seed
        self.n_docs = 120 if smoke else 400
        self.passes = 1 if smoke else max(1, round(seconds / NOMINAL_PASS_S))
        self.dir = os.path.join(work, "data", "corpus")
        self.out: dict[str, object] = {}  # stage key → persisted output
        self.stage_rows: dict[str, int] = {}  # stage key → rows out, last pass
        self.n_clusters = 0
        self.prep_s = 0.0  # index build

    def setup(self) -> None:
        from salesforce_postgresql_etl_spark.operators.simsearch import kmeans_centroids

        c = gen.make_corpus(self.seed, self.n_docs)
        self.kinds = c["kinds"]
        os.makedirs(self.dir, exist_ok=True)
        for name in ("documents", "embeddings", "eval"):
            pq.write_table(c[name], os.path.join(self.dir, f"{name}.parquet"))
        self.docs = self.spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        self.emb = self.spark.read.parquet(os.path.join(self.dir, "embeddings.parquet"))
        self.evals = self.spark.read.parquet(os.path.join(self.dir, "eval.parquet"))
        t0 = time.perf_counter()
        # the index build: k-means centroids over the whole corpus. There
        # is no separate warm-up pass, which would double the set-up cost.
        self.centroids = kmeans_centroids(self.emb, k=N_CLUSTERS, iters=2).persist()
        self.centroids.count()
        self.prep_s = time.perf_counter() - t0

    def trace_hooks(self, tracer) -> None:
        pass  # every stage is already a span (see body)

    # ------------------------------------------------------------------

    def _chain(self):
        """Yield (stage, thunk) pairs; each thunk builds the stage's
        DataFrame from the persisted outputs of earlier stages."""
        from salesforce_postgresql_etl_spark.operators.clustering import dedup_clusters
        from salesforce_postgresql_etl_spark.operators.decontam import contamination_overlap
        from salesforce_postgresql_etl_spark.operators.dedup import neardup_pairs
        from salesforce_postgresql_etl_spark.operators.dupspans import strip_dup_spans
        from salesforce_postgresql_etl_spark.operators.mixture import budget_select
        from salesforce_postgresql_etl_spark.operators.repetition import repetition_profile
        from salesforce_postgresql_etl_spark.operators.simsearch import semdedup_pairs

        o = self.out
        docs = self.docs

        def gated():
            return docs.join(o["rep"].where("keep = 1").select("doc_id"), "doc_id")

        def survivors():
            dup = o["clusters"].where("is_canonical = 0").select("doc_id")
            sem = o["sem"].select(F.col("vec_b").alias("doc_id"))
            return (
                o["strip"]
                .join(gated().select("doc_id", "source"), "doc_id")
                .join(dup, "doc_id", "left_anti")
                .join(sem, "doc_id", "left_anti")
            )

        def budget_input():
            bad = o["decon"].where(F.col("n_overlap") >= DECONTAM_K).select("doc_id")
            s = survivors().join(bad, "doc_id", "left_anti")
            toks = F.split("clean_text", " ")
            return s.select(
                "doc_id",
                "source",
                F.col("n_kept").alias("n_tok"),
                F.size(F.array_distinct(toks)).cast("bigint").alias("score"),
            ).where(F.col("n_tok") > 0)

        yield "rep", lambda: repetition_profile(docs)
        yield "strip", lambda: strip_dup_spans(gated(), k=SPAN_K, use_hash=True)
        yield "pairs", lambda: neardup_pairs(
            gated(),
            threshold=NEARDUP_THETA,
            strategy="minhash",
            n_hashes=MINHASH_HASHES,
            bands=MINHASH_BANDS,
        )
        yield "clusters", lambda: dedup_clusters(o["pairs"].select("doc_a", "doc_b"))
        yield "sem", lambda: semdedup_pairs(
            self.emb.join(gated().select(F.col("doc_id").alias("vec_id")), "vec_id"),
            threshold=SEM_THETA,
            centroids=self.centroids,
        )
        yield "decon", lambda: contamination_overlap(
            _trigrams(survivors(), "clean_text"),
            _trigrams(self.evals, "text").select("g"),
            strategy="broadcast",
        )
        yield "budget", lambda: budget_select(
            budget_input(), "source", "score", "n_tok", TOKEN_BUDGET, "doc_id"
        )

    def _release(self) -> None:
        for df in self.out.values():
            df.unpersist()
        self.out.clear()

    def body(self, tracer) -> Body:
        body = Body()
        t0 = time.perf_counter()
        for _ in range(self.passes):
            self._release()
            for (key, build), stage in zip(self._chain(), STAGES):
                s = time.perf_counter()
                try:
                    with tracer.span(stage, "operators"):
                        df = build().persist()
                        n = df.count()
                except Exception as e:  # a failing stage fails the rest of the pass
                    body.ops.append(Op("stage", stage, time.perf_counter() - s, ok=False, error=repr(e)[:300]))
                    break
                self.out[key] = df
                self.stage_rows[key] = n
                records = self.n_docs if key == "rep" else 0
                body.ops.append(Op("stage", stage, time.perf_counter() - s, records))
        body.t0, body.seconds = t0, time.perf_counter() - t0
        return body

    # ------------------------------------------------------------------
    # verification
    # ------------------------------------------------------------------

    def _cache_path(self) -> str:
        h = hashlib.sha1()
        here = os.path.dirname(os.path.abspath(__file__))
        for f in ("gen.py", "corpus.py", "check.py"):
            with open(os.path.join(here, f), "rb") as fh:
                h.update(fh.read())
        return os.path.join(cache_dir(), f"corpus-{self.seed}-{self.n_docs}-{h.hexdigest()[:12]}.json")

    def reference(self) -> dict[str, dict]:
        """Stage key → {rows, digest} of the reference chain (cached)."""
        path = self._cache_path()
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        ref = {k: check.digest(*v) for k, v in self._reference_rows().items()}
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(ref, f)
        os.replace(tmp, path)
        return ref

    def _reference_rows(self) -> dict[str, tuple[list[str], list]]:
        import duckdb

        from salesforce_postgresql_etl_spark.operators.dupspans import strip_dup_spans_sql
        from salesforce_postgresql_etl_spark.queries import _REGISTRY, all_queries

        all_queries()
        ref: dict[str, tuple[list[str], list]] = {}
        con = duckdb.connect()
        try:
            docs = pq.read_table(os.path.join(self.dir, "documents.parquet"))
            con.register("all_docs", docs)
            con.register("eval_docs", pq.read_table(os.path.join(self.dir, "eval.parquet")))
            con.execute("CREATE VIEW documents AS SELECT * FROM all_docs")

            def sql(q: str):
                rel = con.sql(q)
                return rel.columns, rel.fetchall()

            ref["rep"] = sql(_REGISTRY["q_repetition_filter"].oracle)
            keep = sorted(r[0] for r in ref["rep"][1] if r[-1] == 1)
            con.register("keep_ids", _ids_table(keep))
            con.execute(
                "CREATE OR REPLACE VIEW documents AS "
                "SELECT d.* FROM all_docs d JOIN keep_ids k ON d.doc_id = k.doc_id"
            )
            ref["strip"] = sql(strip_dup_spans_sql(SPAN_K))

            ref["pairs"] = sql(_with_threshold(_REGISTRY["q_neardup_jaccard"].oracle, NEARDUP_THETA))
            edges = [(r[0], r[1]) for r in ref["pairs"][1]]
            ref["clusters"] = (["doc_id", "cluster_id", "is_canonical"], _components(edges))

            con.register("all_emb", pq.read_table(os.path.join(self.dir, "embeddings.parquet")))
            con.execute(
                "CREATE VIEW embeddings AS "
                "SELECT e.* FROM all_emb e JOIN keep_ids k ON e.vec_id = k.doc_id"
            )
            sem_sql = _REGISTRY["q_semdedup"].oracle
            corpus_cte = sem_sql[sem_sql.index("WITH corpus AS (") : sem_sql.index("),\nex AS")]
            sem_sql = sem_sql.replace(corpus_cte, "WITH corpus AS (SELECT vec_id, embedding FROM embeddings")
            ref["sem"] = sql(_with_threshold(sem_sql, SEM_THETA))

            dropped = {r[0] for r in ref["clusters"][1] if r[2] == 0}
            dropped |= {r[1] for r in ref["sem"][1]}
            surv = [d for d in keep if d not in dropped]
            con.register("strip_ref", _rows_table(*ref["strip"]))
            con.register("surv_ids", _ids_table(surv))
            tri = (
                "SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1), "
                "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g "
                "FROM (SELECT doc_id, string_split({col}, ' ') AS t FROM {src})"
            )
            con.execute(
                "CREATE VIEW surv AS SELECT s.* FROM strip_ref s JOIN surv_ids i ON s.doc_id = i.doc_id"
            )
            ref["decon"] = sql(
                f"""
                WITH tri AS ({tri.format(col="clean_text", src="surv")}),
                     bench AS (SELECT DISTINCT g FROM ({tri.format(col="text", src="eval_docs")}))
                SELECT tri.doc_id, COUNT(*) AS n_overlap
                FROM tri JOIN bench USING (g) GROUP BY tri.doc_id
                """
            )
            bad = {r[0] for r in ref["decon"][1] if r[1] >= DECONTAM_K}
            con.register("bad_ids", _ids_table(sorted(bad)))
            ref["budget"] = sql(
                f"""
                WITH b AS (
                  SELECT s.doc_id, d.source, s.n_kept AS n_tok,
                         CAST(len(list_distinct(string_split(s.clean_text, ' '))) AS BIGINT) AS score
                  FROM surv s JOIN all_docs d USING (doc_id)
                  WHERE s.doc_id NOT IN (SELECT doc_id FROM bad_ids) AND s.n_kept > 0)
                SELECT doc_id, source, n_tok, score,
                       CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
                       CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= {TOKEN_BUDGET} AS INT)
                         AS selected
                FROM b
                """
            )
        finally:
            con.close()
        return ref

    def verify(self) -> dict[str, str]:
        """Stage name → mismatch, for stages whose output differs from
        the reference chain."""
        got = {}
        for key, df in self.out.items():
            rows = df.collect()
            got[key] = check.digest(df.columns, rows)
            if key == "clusters":
                self.n_clusters = sum(1 for r in rows if r["is_canonical"] == 1)
        ref = self.reference()
        bad = {}
        for key, stage in zip(self.out, STAGES):
            if got.get(key) != ref[key]:
                bad[stage] = f"{stage}: {got.get(key)} != reference {ref[key]}"
        self._release()
        return bad

    def traffic(self) -> dict:
        return {
            "documents": self.n_docs,
            "planted": self.kinds,
            "passes": self.passes,
            "stage_rows": self.stage_rows,
            "clusters": self.n_clusters,
        }

    def layer_metrics(self, tracer, sm) -> dict:
        out = {}
        for stage in STAGES:
            out[f"{stage}_s"] = median([s.seconds for s in tracer.by_name(stage)])
        out["operators.dedup.pairs_out"] = self.stage_rows.get("pairs", 0)
        out["operators.clustering.clusters_out"] = self.n_clusters
        return out


def _with_threshold(oracle: str, theta: float) -> str:
    """The registered oracle with its final ``>= θ`` filter set to ``theta``."""
    head, sep, old = oracle.rstrip().rpartition(">= ")
    if not sep or not old.replace(".", "").isdigit():
        raise ValueError("oracle does not end in a '>= <threshold>' filter")
    return f"{head}>= {theta}"


def _ids_table(ids: list[int]):
    import pyarrow as pa

    return pa.table({"doc_id": pa.array(ids, pa.int64())})


def _rows_table(columns: list[str], rows: list):
    import pyarrow as pa

    return pa.table({c: [r[i] for r in rows] for i, c in enumerate(columns)})


def _components(edges: list[tuple[int, int]]) -> list[tuple[int, int, int]]:
    """Union-find: (doc_id, min member id, is_canonical) for every doc
    that appears in an edge."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n), int(n == find(n))) for n in list(parent)]
