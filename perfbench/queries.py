"""``query_iterative``: fixed-point operators through their catalog queries.

One client thread runs a closed loop of registry queries over the input
tables; the seed sets the query order of every pass. An operation is
one query: the call into the registry callable (``workloads.build``,
which includes the operators' eager persist and materialize) plus
``count()`` (``workloads.action``), both timed. After each operation,
outside the timed region, the benchmark releases every cached frame with
``clearCache()``, so no operation reuses another's result.

Correctness: the first time a query runs in a run, its result is
collected and compared with its DuckDB oracle over the same input
tables (``tools/check_correctness.compare``). Every timed operation also
checks its row count against the oracle's.
"""

from __future__ import annotations

import random
import time

import duckdb
import pandas as pd
from aws_sql_server_to_s3_datalake_etl_migration_spark import workloads
from tools.check_correctness import TABLES, compare

# One query per fixed-point family: connected components, label
# propagation, PageRank and k-means/PQ. Their cost is jobs per round and
# cache traffic, not scan. Left out to keep a run inside the benchmark's
# time budget: customer_entity_resolution (a second CC kernel),
# doc_link_coreness and doc_link_kcore (peel waves), doc_bpe_learn_merges
# (BPE learning, which has no oracle). The consumers of the cached BPE
# merge table (doc_bpe_tokenize, doc_bpe_token_ids) are left out on
# purpose: they reuse a result across runs.
ITERATIVE = [
    "doc_link_components",
    "emb_label_prop_cells",
    "doc_pagerank_fixedpoint",
    "emb_pq_topk",
]

class QueryWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.queries = workloads.queries()
        self.expected: dict[str, pd.DataFrame] = {}
        self.expected_rows: dict[str, int] = {}
        self.verified: set[str] = set()
        self.order_rng = random.Random(ctx.seed)

    # -- set-up -----------------------------------------------------------

    def load_oracles(self) -> None:
        oracles = workloads.oracles()
        con = duckdb.connect()
        con.execute(f"SET threads={self.ctx.cpus}")
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{self.ctx.data_dir}/{t}.parquet'"
            )
        for name in ITERATIVE:
            self.expected[name] = con.sql(oracles[name]).df()
            self.expected_rows[name] = len(self.expected[name])
        con.close()

    # -- one operation ----------------------------------------------------

    def run_op(self, name: str) -> tuple[float, bool]:
        """Run one query; returns (seconds, correct)."""
        ctx, tr = self.ctx, self.ctx.tracer
        ok = True
        t0 = time.perf_counter()
        try:
            with tr.span("workloads.build"):
                df = self.queries[name](ctx.spark, ctx.data_dir)
            counted = df.groupBy().count()
            with tr.span("workloads.action"):
                n = counted.collect()[0][0]
            secs = time.perf_counter() - t0
            if tr.enabled:
                ctx.note_plan(counted)
                ctx.note_cache()
            if n != self.expected_rows[name]:
                ctx.log(f"{name}: {n} rows, want {self.expected_rows[name]}")
                ok = False
            elif name not in self.verified:
                verdict = compare(name, df.toPandas(), self.expected[name])
                self.verified.add(name)
                if verdict != "OK":
                    ctx.log(f"{name}: WRONG {verdict}")
                    ok = False
        except Exception as e:  # one failing query must not end the run
            secs = time.perf_counter() - t0
            ctx.log(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}")
            ok = False
        finally:
            ctx.spark.catalog.clearCache()
        return secs, ok

    # -- workload protocol ------------------------------------------------

    def setup(self) -> None:
        self.ctx.repeat_setup(self.load_oracles)

    def run_pass(self) -> tuple[float, list[tuple[str, float, bool]]]:
        order = list(ITERATIVE)
        self.order_rng.shuffle(order)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("pass"):
            ops = [(n, *self.run_op(n)) for n in order]
        return time.perf_counter() - t0, ops
