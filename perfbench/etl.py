"""``etl_cycles``: the reference's driver pipeline and the write path.

A pass runs a generated dependency CSV through
``plans.dependencies.layered_jobs`` and
``JobRunner(spark, metastore, max_parallel=cpus).run_layers``, one layer
at a time, into a fresh lake root:

- layer 1: ``calendar`` (a DDL-typed CSV through
  ``pipelines.ingest_csv_to_lake``), and the ``orders`` and ``customer``
  bootstraps into log-backed tables (``incremental.write_incremental``);
- layer 2: ``orders_cdc`` and ``customer_cdc`` run K cycles each of a
  watermark append (``write_incremental``), a CDC ``merge_upsert`` with
  ``delete_col`` and a snapshot ``read_delta(...).count()``;
  ``events_stream`` feeds a third log-backed table with
  ``streaming.ingest.stream_txn_append_to_lake``, one micro-batch per
  landing file, availableNow;
- layer 3: ``policies`` runs the nis_policies template
  (``pipelines.ingest_query_to_lake`` over orders, customer and nation),
  then ``recon_report`` and ``assert_reconciled``.

The seed picks the bootstrap size, the batch boundaries, the update and
delete keys, the calendar and the stream's file boundaries. The same
batches are replayed in DuckDB; after each pass every final table is
compared with its replay (``tools/check_correctness.compare``).
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
import shutil
import threading
import time
from datetime import timezone

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from aws_sql_server_to_s3_datalake_etl_migration_spark import pipelines
from aws_sql_server_to_s3_datalake_etl_migration_spark.operators import (
    incremental,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.plans import (
    dependencies,
    metastore,
    recon,
    runner,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.sources import (
    delta_log,
    readers,
)
from aws_sql_server_to_s3_datalake_etl_migration_spark.streaming import ingest
from tools.check_correctness import compare

CYCLES = 2  # K: append + merge + snapshot read cycles per fact table

CALENDAR_DDL = (
    "`Date - Date Format` DATE, Day STRING, `Week Ending` DATE, "
    "`Calendar Week No` INT, `Calendar Month` STRING, Month INT, "
    "Year INT, `Financial Period` FLOAT"
)

# (job, parent) edges of the dependency CSV; layers are derived from it.
DEPENDENCIES = [
    ("calendar", ""),
    ("orders", ""),
    ("customer", ""),
    ("orders_cdc", "orders"),
    ("customer_cdc", "customer"),
    ("events_stream", "calendar"),
    ("policies", "orders_cdc"),
    ("policies", "customer_cdc"),
]

FACTS = {"orders": "o_orderkey", "customer": "c_custkey"}

POLICIES_SQL = """
SELECT pol.*, org.c_name, org.c_mktsegment, nat.n_name
FROM pol
JOIN org ON pol.o_custkey = org.c_custkey
JOIN nat ON org.c_nationkey = nat.n_nationkey
WHERE nat.n_nationkey IN ({keys})
"""


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, coerce_timestamps="us",
                   allow_truncated_timestamps=True)
    return os.path.getsize(path)


class Batches:
    """Every input of one run, made from the seed, plus the DuckDB
    replay of what the lake must hold after each step."""

    def __init__(self, data_dir: str, out: str, seed: int):
        rng = random.Random(seed)
        os.makedirs(out, exist_ok=True)
        self.dir = out
        self.bytes: dict[str, int] = {}
        self.rows: dict[str, int] = {}
        self.expect: dict[str, object] = {}
        con = duckdb.connect()
        con.execute("SET threads=2")
        for t, pk in FACTS.items():
            src = con.sql(
                f"SELECT * FROM '{data_dir}/{t}.parquet' ORDER BY {pk}"
            ).arrow()
            n = src.num_rows
            boot = int(n * rng.uniform(0.45, 0.55))
            cuts = sorted(rng.sample(range(boot + 1, n), CYCLES - 1)) + [n]
            self._emit(f"{t}_boot", src.slice(0, boot))
            con.register("src", src)
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM src "
                        f"ORDER BY {pk} LIMIT {boot}")
            self.expect[f"{t}_boot"] = boot
            lo = boot
            for i, hi in enumerate(cuts):
                # re-deliver a few rows below the watermark: the append
                # must filter them out
                overlap = rng.randint(1, 40)
                batch = src.slice(lo - overlap, hi - lo + overlap)
                self._emit(f"{t}_append{i}", batch)
                con.register("batch", batch)
                before = con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
                con.execute(
                    f"INSERT INTO {t} SELECT * FROM batch "
                    f"WHERE {pk} > (SELECT max({pk}) FROM {t})"
                )
                self.expect[f"{t}_append{i}"] = con.sql(
                    f"SELECT count(*) FROM {t}").fetchone()[0] - before
                lo = hi
                alive = [r[0] for r in con.sql(
                    f"SELECT {pk} FROM {t} ORDER BY {pk}").fetchall()]
                n_up = max(1, len(alive) // rng.randint(15, 30))
                n_del = max(1, len(alive) // rng.randint(40, 80))
                picked = rng.sample(alive, n_up + n_del)
                ups, dels = picked[:n_up], picked[n_up:]
                merge = self._merge_batch(con, t, pk, ups, dels)
                self._emit(f"{t}_merge{i}", merge)
                con.register("mrg", merge)
                con.execute(f"DELETE FROM {t} WHERE {pk} IN "
                            f"(SELECT {pk} FROM mrg)")
                con.execute(f"INSERT INTO {t} SELECT * EXCLUDE (_delete) "
                            f"FROM mrg WHERE NOT _delete")
                self.expect[f"{t}_rows{i}"] = con.sql(
                    f"SELECT count(*) FROM {t}").fetchone()[0]
            self.expect[t] = con.sql(f"SELECT * FROM {t}").df()

        ev = con.sql(f"SELECT * FROM '{data_dir}/events.parquet' "
                     "ORDER BY event_id").arrow()
        n_files = rng.randint(3, 5)
        cuts = [0] + sorted(rng.sample(range(1, ev.num_rows),
                                       n_files - 1)) + [ev.num_rows]
        self.landing = os.path.join(out, "landing")
        os.makedirs(self.landing)
        for i in range(n_files):
            _write(ev.slice(cuts[i], cuts[i + 1] - cuts[i]),
                   os.path.join(self.landing, f"events-{i:03d}.parquet"))
        self.expect["events"] = ev.to_pandas()

        start = dt.date(2015, 1, 1) + dt.timedelta(days=rng.randint(0, 3000))
        self.n_days = rng.randint(500, 900)
        self.calendar_csv = os.path.join(out, "calendar.csv")
        self._calendar(start, self.n_days)

        nations = sorted(rng.sample(range(25), rng.randint(8, 14)))
        self.policies_sql = POLICIES_SQL.format(
            keys=", ".join(map(str, nations)))
        con.execute(f"CREATE VIEW nat AS SELECT * FROM "
                    f"'{data_dir}/nation.parquet'")
        con.execute("CREATE VIEW pol AS SELECT * FROM orders")
        con.execute("CREATE VIEW org AS SELECT * FROM customer")
        self.expect["policies"] = con.sql(self.policies_sql).df()
        con.close()

        self.deps_csv = os.path.join(out, "dependencies.csv")
        with open(self.deps_csv, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["Table", "Parent Table"])
            w.writerows(DEPENDENCIES)

    def _emit(self, name: str, table: pa.Table) -> None:
        self.bytes[name] = _write(table, self.path(name))
        self.rows[name] = table.num_rows

    def path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")

    @staticmethod
    def _merge_batch(con, t: str, pk: str, ups: list, dels: list):
        ups_l, dels_l = ",".join(map(str, ups)), ",".join(map(str, dels))
        if t == "orders":
            changed = ("* REPLACE (round(o_totalprice * 1.05, 2) AS "
                       "o_totalprice, 'U' AS o_orderstatus)")
        else:
            changed = ("* REPLACE (round(c_acctbal + 100.0, 2) AS "
                       "c_acctbal, c_mktsegment || '*' AS c_mktsegment)")
        return con.sql(
            f"SELECT {changed}, false AS _delete FROM {t} "
            f"WHERE {pk} IN ({ups_l}) "
            f"UNION ALL SELECT *, true AS _delete FROM {t} "
            f"WHERE {pk} IN ({dels_l}) ORDER BY {pk}"
        ).arrow()

    def _calendar(self, start: dt.date, days: int) -> None:
        with open(self.calendar_csv, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["Date - Date Format", "Day", "Week Ending",
                        "Calendar Week No", "Calendar Month", "Month",
                        "Year", "Financial Period"])
            for k in range(days):
                d = start + dt.timedelta(days=k)
                end = d + dt.timedelta(days=6 - d.weekday())
                w.writerow([d.isoformat(), d.strftime("%A"),
                            end.isoformat(), d.isocalendar()[1],
                            d.strftime("%B"), d.month, d.year,
                            round(d.month / 12 + d.year % 100, 2)])


class EtlWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.batches: Batches | None = None
        self.n_pass = 0
        self._lock = threading.Lock()

    def setup(self) -> None:
        work = os.path.join(self.ctx.work_dir, "etl-inputs")

        def make():
            shutil.rmtree(work, ignore_errors=True)
            self.batches = Batches(self.ctx.data_dir, work, self.ctx.seed)

        self.ctx.repeat_setup(make)

    # -- helpers ----------------------------------------------------------

    def _op(self, ops, name, fn, check=None, table_dir=None, batch=None):
        """Time one call into a layer; ``check(result)`` -> bool."""
        tr = self.ctx.tracer
        before = dir_bytes(table_dir) if tr.enabled and table_dir else 0
        t0 = time.perf_counter()
        ok = True
        try:
            with tr.span(name):
                res = fn()
            ok = check(res) if check else True
            if not ok:
                self.ctx.log(f"{name}: WRONG result {res!r}")
        except Exception as e:
            res, ok = None, False
            self.ctx.log(f"{name}: ERROR {type(e).__name__}: "
                         f"{str(e)[:300]}")
        secs = time.perf_counter() - t0
        self.ctx.add(name + "_s", secs)
        if tr.enabled and table_dir and batch:
            self.ctx.add("written_bytes", dir_bytes(table_dir) - before)
            self.ctx.add("batch_bytes", self.batches.bytes[batch])
        with self._lock:
            ops.append((name, secs, ok))
        return res

    # -- the jobs ---------------------------------------------------------

    def _jobs(self, root: str, ops: list, store) -> dict:

        spark, b = self.ctx.spark, self.batches
        lake, pub = f"{root}/lake", f"{root}/published"

        def calendar():
            self._op(ops, "pipelines.csv_ingest",
                     lambda: pipelines.ingest_csv_to_lake(
                         spark, b.calendar_csv, f"{pub}/calendar",
                         ddl=CALENDAR_DDL),
                     check=lambda n: n == b.n_days)

        def bootstrap(t):
            want = b.expect[f"{t}_boot"]

            def job():
                self._op(ops, "incremental.bootstrap",
                         lambda: incremental.write_incremental(
                             spark, spark.read.parquet(b.path(f"{t}_boot")),
                             f"{lake}/{t}", FACTS[t]),
                         check=lambda n: n == want,
                         table_dir=f"{lake}/{t}", batch=f"{t}_boot")
                self.ctx.add("rows_written", want)
            return job

        def cycles(t):
            pk, path = FACTS[t], f"{lake}/{t}"

            def job():
                for i in range(CYCLES):
                    want = b.expect[f"{t}_append{i}"]
                    self._op(ops, "incremental.append",
                             lambda: incremental.write_incremental(
                                 spark,
                                 spark.read.parquet(b.path(f"{t}_append{i}")),
                                 path, pk),
                             check=lambda n: n == want,
                             table_dir=path, batch=f"{t}_append{i}")
                    self.ctx.add("rows_written", want)
                    self._op(ops, "incremental.merge",
                             lambda: incremental.merge_upsert(
                                 spark,
                                 spark.read.parquet(b.path(f"{t}_merge{i}")),
                                 path, pk, delete_col="_delete"),
                             table_dir=path, batch=f"{t}_merge{i}")
                    self.ctx.add("rows_written", b.rows[f"{t}_merge{i}"])
                    rows = b.expect[f"{t}_rows{i}"]
                    self._op(ops, "readers.snapshot_read",
                             lambda: readers.read_delta(spark, path).count(),
                             check=lambda n: n == rows)
            return job

        def events_stream():
            schema = spark.read.parquet(b.landing).schema
            progress = []

            def run():
                q = ingest.stream_txn_append_to_lake(
                    ingest.stream_ingest_files(
                        spark, b.landing, schema, fmt="parquet",
                        max_files_per_trigger=1),
                    f"{lake}/events", f"{root}/checkpoints/events",
                    app_id="events_stream")
                sp = self.ctx.tracer.current()
                if sp is not None:
                    sp.groups.append(str(q.runId))
                q.awaitTermination()
                progress.extend(q.recentProgress)
                return sum(p["numInputRows"] for p in progress)

            want = len(b.expect["events"])
            self._op(ops, "streaming.ingest", run,
                     check=lambda n: n == want)
            self.ctx.add("rows_written", want)
            self.ctx.add("streaming.batches", len(progress))
            for p in progress:
                d = p.get("durationMs", {})
                self.ctx.add("streaming.trigger_s",
                             d.get("triggerExecution", 0) / 1e3)
                self.ctx.add("streaming.add_batch_s",
                             d.get("addBatch", 0) / 1e3)

        def policies():
            sources = {
                "pol": readers.read_delta(spark, f"{lake}/orders"),
                "org": readers.read_delta(spark, f"{lake}/customer"),
                "nat": spark.read.parquet(
                    f"{self.ctx.data_dir}/nation.parquet"),
            }
            want = len(b.expect["policies"])
            self._op(ops, "pipelines.flagship_ingest",
                     lambda: pipelines.ingest_query_to_lake(
                         spark, sources, b.policies_sql, f"{pub}/policies"),
                     check=lambda n: n == want)

            def source(t):
                if t == "calendar":
                    return readers.read_csv(spark, b.calendar_csv,
                                            ddl=CALENDAR_DDL)
                if t == "policies":
                    return spark.range(want)
                return None

            def report():
                rep = recon.recon_report(spark, pub, source, store)
                recon.assert_reconciled(rep)
                return sorted(r["TableName"] for r in rep.collect()
                              if r["TableRowCounts"] is not None)

            self._op(ops, "plans.recon", report,
                     check=lambda names: names == ["calendar", "policies"])

        return {
            "calendar": calendar,
            "orders": bootstrap("orders"),
            "customer": bootstrap("customer"),
            "orders_cdc": cycles("orders"),
            "customer_cdc": cycles("customer"),
            "events_stream": events_stream,
            "policies": policies,
        }

    # -- one pass ---------------------------------------------------------

    def run_pass(self) -> tuple[float, list[tuple[str, float, bool]]]:
        ctx, tr, b = self.ctx, self.ctx.tracer, self.batches
        spark = ctx.spark
        root = os.path.join(ctx.work_dir, f"etl-pass{self.n_pass}")
        self.n_pass += 1
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        ops: list[tuple[str, float, bool]] = []

        store = metastore.OperationalMetastore(spark, f"{root}/metastore")
        record = store.record
        pass_span = None

        def timed_record(*a, **k):
            t0 = time.perf_counter()
            with tr.span("plans.metastore", parent=pass_span):
                record(*a, **k)
            self.ctx.add("metastore.record_s", time.perf_counter() - t0)

        store.record = timed_record
        jobs = self._jobs(root, ops, store)

        def traced(fn):
            def run():
                with tr.span("plans.runner.job", parent=pass_span):
                    fn()
            return run

        t0 = time.perf_counter()
        with tr.span("pass") as pass_span:
            with tr.span("plans.dependencies"):
                layers = dependencies.layered_jobs(
                    readers.read_csv(spark, b.deps_csv))
            job_runner = runner.JobRunner(spark, store,
                                          max_parallel=ctx.cpus)
            for name, fn in jobs.items():
                job_runner.register(name, traced(fn))
            results = []
            for layer in layers:
                submit = dt.datetime.now(timezone.utc)
                got = job_runner.run_layers([layer])
                for r in got:
                    self.ctx.add("runner.queue_wait_s",
                                 (r.start - submit).total_seconds())
                results.extend(got)
        wall = time.perf_counter() - t0

        job_s = sum((r.end - r.start).total_seconds() for r in results)
        self.ctx.add("runner.job_s", job_s)
        self.ctx.add("runner.parallel_eff", job_s / (wall * ctx.cpus))
        for r in results:
            if r.status != "SUCCEEDED":
                ctx.log(f"job {r.job_name} {r.status}: {r.error}")
                ops.append((f"job:{r.job_name}", 0.0, False))
        self._check_tables(root, ops)
        if tr.enabled:
            self._lake_stats(root)
        shutil.rmtree(root, ignore_errors=True)
        return wall, ops

    def _check_tables(self, root: str, ops: list) -> None:
        """Compare every final table with its DuckDB replay; a mismatch
        counts as one more failed operation."""

        spark = self.ctx.spark
        for t in ("orders", "customer", "events", "policies"):
            try:
                df = (spark.read.parquet(f"{root}/published/{t}")
                      if t == "policies"
                      else readers.read_delta(spark, f"{root}/lake/{t}"))
                verdict = compare(t, df.toPandas(), self.batches.expect[t])
            except Exception as e:
                verdict = f"{type(e).__name__}: {e}"
            if verdict != "OK":
                self.ctx.log(f"table {t}: WRONG {verdict[:300]}")
                ops.append((f"check:{t}", 0.0, False))

    def _lake_stats(self, root: str) -> None:
        """Log growth and space use of the log-backed tables."""

        spark = self.ctx.spark
        lake_bytes = compact = 0
        for t in ("orders", "customer", "events"):
            path = f"{root}/lake/{t}"
            self.ctx.add("delta_log.versions",
                      delta_log.log_version(spark, path) + 1)
            self.ctx.add("delta_log.log_mb",
                      dir_bytes(f"{path}/_delta_log") / 2**20)
            self.ctx.add("delta_log.data_files", sum(
                f.endswith(".parquet")
                for r, d, fs in os.walk(path) if "_delta_log" not in r
                for f in fs))
            lake_bytes += dir_bytes(path)
            out = f"{root}/compact/{t}"
            readers.read_delta(spark, path).coalesce(1).write.parquet(out)
            compact += dir_bytes(out)
        self.ctx.add("lake_space_amp", lake_bytes / compact)
