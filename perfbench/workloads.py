"""The two workloads: medallion_monthly and query_mix.

Each is a closed loop (one client, one process). A workload prepares
its inputs once (untimed), then runs passes; every pass starts from a
fresh warehouse and returns the latency of each operation it timed and
the outputs the correctness checks need. Every call into the program
goes through ``Tracer.span`` so the traced run can attribute Spark work
to it.

The program is driven only through its public entry points:
``pipeline.medallion.MedallionPipeline``, ``pipeline.taxi``,
``sources.fixture_taxi.orders_as_taxi`` and ``registry.all_queries()``.
"""

from __future__ import annotations

import os
import shutil
import sys
from dataclasses import dataclass, field
from datetime import datetime
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from . import datagen, feeds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GOLD_VIEWS = ("gold_vendor_metrics", "gold_monthly_metrics", "gold_payment_metrics")

# query_mix: relational plans (TPC-H and the gold flagship) and
# iterative LLM-side queries whose loops pay a Spark job per round.
PLAN_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "flagship_supplier_metrics",
)
LLM_QUERIES = (
    "embeddings_kmeans",
    "nation_trade_pagerank",
    "knn_pq_adc",
)


@dataclass
class Op:
    kind: str  # ingest | replay | watermark | silver | gold | query
    seconds: float


@dataclass
class PassResult:
    seconds: float
    ops: list[Op] = field(default_factory=list)
    # (check name, passed, detail) — filled by the workload's checks
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    failures: int = 0  # operations that raised
    extra: dict = field(default_factory=dict)


def oracle_check():
    """The repository's Spark-versus-DuckDB comparison,
    ``tools/oracle_check.py``."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import oracle_check as mod

    return mod


def _month_window(m: int):
    from python_nyc_taxi_data_pipeline_spark.operators.watermark import MonthWindow

    end = datetime(2025, 1, 1) if m == 12 else datetime(2024, m + 1, 1)
    return MonthWindow(datetime(2024, m, 1), end)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``.crc`` and
    ``_SUCCESS`` markers are not data files."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            if not n.startswith((".", "_")):
                files += 1
    return total, files


# -- medallion ---------------------------------------------------------------


class Medallion:
    """The reference's monthly cadence on a dirty feed (``plan``): per
    month a watermark read, ``ingest_batch`` of a batch with duplicates
    and early arrivals, its replay, then silver refresh, gold dims and
    views, and a read of each gold view. Every timed pass starts from a
    copy of the base months' warehouse."""

    tables = ("orders",)
    pass_s = 7.0  # a warm pass on a 4-core host; sets how many fit the window

    def __init__(self, plan: feeds.FeedPlan):
        self.plan = plan
        self.base_files = 0  # data files of the base warehouse

    def prepare(self, spark, data_dir: str, work_dir: str) -> None:
        """Materialize the taxi feed once and compute what every pass
        must produce."""
        from perfbench.trace import Tracer

        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.src_dir = os.path.join(work_dir, "taxi_source")
        self.write_source(Tracer())
        self.expected = feeds.expected(
            self.plan, pq.read_table(os.path.join(data_dir, "orders.parquet"))
        )
        self.passes = 0

    def write_source(self, tracer) -> None:
        """Write the rows of ``orders_as_taxi`` for the months the feed
        uses, partitioned by month, under a ``sources`` span."""
        from pyspark.sql import functions as F

        from python_nyc_taxi_data_pipeline_spark.sources.fixture_taxi import (
            orders_as_taxi,
        )

        last = max(self.plan.all_months + tuple(self.plan.early_locations))
        with tracer.span("orders_as_taxi", "sources", kind="source"):
            (
                orders_as_taxi(self.spark, self.data_dir, copies=self.plan.copies)
                .withColumn("src_month", F.month("tpep_pickup_datetime"))
                .filter(F.col("src_month") <= last)
                .write.mode("overwrite")
                .partitionBy("src_month")
                .parquet(self.src_dir)
            )

    def _month(self, m: int):
        from pyspark.sql import functions as F

        return (
            self.spark.read.parquet(self.src_dir)
            .filter(F.col("src_month") == m)
            .drop("src_month")
        )

    def batch(self, m: int):
        """The frame handed to ``ingest_batch`` for month ``m``."""
        from pyspark.sql import functions as F

        df = self._month(m)
        out = df
        dups = self.plan.dup_locations.get(m)
        if dups:
            out = out.unionByName(df.filter(F.col("pulocationid").isin(list(dups))))
        for k in self.plan.early_months(m):
            out = out.unionByName(
                self._month(k).filter(
                    F.col("pulocationid").isin(list(self.plan.early_locations[k]))
                )
            )
        return out

    def warm_up(self, tracer) -> list[PassResult]:
        """Untimed: load the base months, through the same calls a timed
        pass makes, into the warehouse every timed pass starts from; then
        one pass like a timed one, which the JVM still runs slower than
        the next (JIT compilation is not done after the base load)."""
        self.base_dir = os.path.join(self.work_dir, "warehouse-base")
        base = self._pass(self.plan.base_months, self.base_dir, tracer, refresh_each=False)
        self.base_files = self.data_files(self.base_dir)
        extra = self.run_pass(tracer)
        for res in (base, extra):
            self.check(res)
        self.cleanup(extra)
        return [base, extra]

    def run_pass(self, tracer) -> PassResult:
        self.passes += 1
        wh = os.path.join(self.work_dir, f"warehouse-{self.passes}")
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(self.base_dir, wh)
        return self._pass(self.plan.months, wh, tracer)

    def _pass(self, months, wh: str, tracer, refresh_each: bool = True) -> PassResult:
        """Load ``months`` into warehouse ``wh``, replaying each batch and
        refreshing silver and gold after each month; with
        ``refresh_each=False`` only after the last."""
        import time

        from python_nyc_taxi_data_pipeline_spark.pipeline.taxi import (
            build_dims,
            create_gold_views,
            silver_transform,
            taxi_pipeline,
        )

        spark = self.spark
        pipe = taxi_pipeline(spark, wh)
        res = PassResult(0.0)
        loads, replays, silver_counts = {}, {}, {}
        gold_rows: dict[str, list] = {}

        def timed(kind: str, name: str, layer: str, fn, **attrs):
            with tracer.span(name, layer, kind=kind, **attrs) as sp:
                out = fn()
            res.ops.append(Op(kind, sp.seconds))
            return out

        t0 = time.perf_counter()
        for m in months:
            win = _month_window(m)
            timed("watermark", "current_watermark", "pipeline.medallion", pipe.current_watermark)
            batch = self.batch(m)
            loads[m] = timed(
                "ingest", "ingest_batch", "pipeline.medallion",
                lambda: pipe.ingest_batch(batch, win), month=m,
            )
            if not (refresh_each or m == months[-1]):
                continue
            replays[m] = timed(
                "replay", "ingest_batch", "pipeline.medallion",
                lambda: pipe.ingest_batch(batch, win), month=m,
            )
            silver_counts[m] = timed(
                "silver", "silver_refresh", "pipeline.medallion",
                lambda: pipe.silver_refresh(silver_transform, partition_col="pickup_month"),
            )

            def gold():
                dims = build_dims(spark, pipe.bronze())
                create_gold_views(spark, pipe.read_silver(), dims)

            timed("gold", "create_gold_views", "pipeline.taxi", gold)
            for v in GOLD_VIEWS:
                gold_rows[v] = timed(
                    "gold", v, "pipeline.taxi", lambda v=v: spark.table(v).collect()
                )
        res.seconds = time.perf_counter() - t0
        res.extra = {
            "warehouse": wh,
            "loads": loads,
            "replays": replays,
            "silver_counts": silver_counts,
            "gold_rows": gold_rows,
        }
        return res

    def check(self, res: PassResult) -> None:
        """Untimed checks of one pass against the feed's expected counts
        and a DuckDB recomputation of the gold views."""
        exp = self.expected
        x = res.extra
        add = res.checks.append
        for m, r in x["loads"].items():
            add((f"loaded[{m}]", r.loaded == exp.loaded[m], f"{r.loaded} vs {exp.loaded[m]}"))
            add((
                f"dead_lettered[{m}]",
                r.dead_lettered == exp.dead_lettered[m],
                f"{r.dead_lettered} vs {exp.dead_lettered[m]}",
            ))
            win = _month_window(m)
            add((f"watermark[{m}]", win.start < r.watermark < win.end, str(r.watermark)))
        for m, r in x["replays"].items():
            add((f"replay[{m}]", r.loaded == 0 and r.dead_lettered == 0, f"{r.loaded}/{r.dead_lettered}"))
        for m, n in x["silver_counts"].items():
            add((f"silver_rows[{m}]", n == exp.silver_after[m], f"{n} vs {exp.silver_after[m]}"))
        want = gold_oracle(os.path.join(x["warehouse"], "silver", "fact"))
        compare = oracle_check().compare
        for v in GOLD_VIEWS:
            got = pd.DataFrame([r.asDict() for r in x["gold_rows"][v]])
            problems = compare(v, got, want[v])
            add((v, not problems, "; ".join(problems)[:300]))

    @staticmethod
    def data_files(wh: str) -> int:
        """Data files in bronze and the dead-letter table."""
        return sum(dir_bytes(os.path.join(wh, p))[1] for p in ("bronze", "meta/invalid_records"))

    def stored_bytes(self, res: PassResult) -> int:
        wh = res.extra["warehouse"]
        return sum(dir_bytes(os.path.join(wh, p))[0] for p in ("bronze", "meta", "silver"))

    def cleanup(self, res: PassResult) -> None:
        shutil.rmtree(res.extra["warehouse"], ignore_errors=True)


def _round_half_up(x: Decimal, places: int) -> Decimal:
    return x.quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP)


def _avg_decimal(total, n: int) -> Decimal:
    """Spark's ``round(avg(decimal(p,2)), 2)``: the quotient is held at
    12 places, the average is decimal(p+4, 6), then rounded to 2."""
    q = _round_half_up(Decimal(total) / Decimal(n), 12)
    return _round_half_up(_round_half_up(q, 6), 2)


def _avg_double(total: int, n: int) -> float:
    """Spark's ``round(avg(int), 2)``: a double average rounded half-up
    from its decimal string."""
    return float(_round_half_up(Decimal(repr(total / n)), 2))


def gold_oracle(silver_dir: str) -> dict[str, pd.DataFrame]:
    """The three gold views recomputed by DuckDB from the silver parquet:
    exact sums and counts in SQL, Spark's rounding applied in Python."""
    from python_nyc_taxi_data_pipeline_spark.sources.schemas import (
        PAYMENT_TYPE_ROWS,
        VENDOR_DECODE,
    )

    con = duckdb.connect()
    try:
        src = f"read_parquet('{silver_dir}/**/*.parquet', hive_partitioning = false)"
        case = " ".join(f"WHEN {k} THEN '{v}'" for k, v in VENDOR_DECODE.items())
        vend = con.execute(
            f"SELECT CASE vendorid {case} END AS vendor, count(*) n, "
            f"sum(total_amount) rev, sum(minute_duration)::BIGINT dur "
            f"FROM {src} GROUP BY 1"
        ).fetchall()
        month = con.execute(
            "SELECT date_trunc('month', tpep_pickup_datetime)::TIMESTAMP ms, "
            "monthname(tpep_pickup_datetime) mn, count(*) n, "
            "sum(trip_distance) dist, sum(minute_duration)::BIGINT dur "
            f"FROM {src} GROUP BY 1, 2"
        ).fetchall()
        names = ", ".join(f"({k}, '{v}')" for k, v in PAYMENT_TYPE_ROWS)
        pay = con.execute(
            f"SELECT d.name, count(*) n, sum(total_amount) amt FROM {src} s "
            f"LEFT JOIN (VALUES {names}) d(id, name) ON s.payment_type = d.id "
            "GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    return {
        "gold_vendor_metrics": pd.DataFrame(
            [(v, n, float(rev), _avg_double(dur, n)) for v, n, rev, dur in vend],
            columns=["vendor", "total_trips", "total_revenue", "avg_duration_minutes"],
        ),
        "gold_monthly_metrics": pd.DataFrame(
            [
                (ms, mn, n, _avg_decimal(dist, n), _avg_double(dur, n))
                for ms, mn, n, dist, dur in month
            ],
            columns=[
                "month_start",
                "month",
                "total_rides",
                "avg_trip_distance",
                "avg_duration_minutes",
            ],
        ),
        "gold_payment_metrics": pd.DataFrame(
            [(name, n, _avg_decimal(amt, n)) for name, n, amt in pay],
            columns=["payment_type_name", "total_trip_by_payment", "avg_amount"],
        ),
    }


# -- query mix -----------------------------------------------------------------


class QueryMix:
    """Every query of the mix once per pass, in an order drawn from the
    seed, each collected to the driver (``toPandas``) so that the timed
    results are the ones checked against the query's DuckDB oracle."""

    tables = datagen.TABLES
    pass_s = 8.0  # a warm pass on a 4-core host; sets how many fit the window

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, spark, data_dir: str, work_dir: str) -> None:
        import numpy as np

        from python_nyc_taxi_data_pipeline_spark.registry import all_queries

        self.spark = spark
        self.data_dir = data_dir
        self.reg = all_queries()
        self.names = list(PLAN_QUERIES + LLM_QUERIES)
        missing = [n for n in self.names if n not in self.reg]
        if missing:
            raise KeyError(f"queries not registered: {missing}")
        self.rng = np.random.default_rng(self.seed)

    def layer(self, name: str) -> str:
        return "llm" if name in LLM_QUERIES else "plans"

    def _drop_leftover_blocks(self) -> None:
        """Unpersist what a query left cached, so that one query's
        cached state cannot slow the next."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    def warm_up(self, tracer) -> list[PassResult]:
        """Two untimed passes, checked like timed ones; the second still
        runs faster than the first (JIT compilation)."""
        out = [self.run_pass(tracer) for _ in range(2)]
        for res in out:
            self.check(res)
            self.cleanup(res)
        return out

    def run_pass(self, tracer) -> PassResult:
        import time

        order = [self.names[i] for i in self.rng.permutation(len(self.names))]
        res = PassResult(0.0)
        results = res.extra["results"] = {}
        t0 = time.perf_counter()
        for n in order:
            try:
                with tracer.span(n, self.layer(n), kind="query") as sp:
                    results[n] = self.reg[n].fn(self.spark, self.data_dir).toPandas()
                res.ops.append(Op("query", sp.seconds))
            except Exception as exc:
                results[n] = exc
                res.failures += 1
            pause = time.perf_counter()
            self._drop_leftover_blocks()
            t0 += time.perf_counter() - pause  # the cleanup is not part of the pass
        res.seconds = time.perf_counter() - t0
        return res

    def check(self, res: PassResult) -> None:
        """Each result against its oracle: row count plus order-insensitive
        values (``tools/oracle_check.compare``)."""
        oc = oracle_check()
        con = oc.duck_connection(self.data_dir)
        try:
            for n, got in res.extra["results"].items():
                if isinstance(got, Exception):
                    continue  # already counted as a failed operation
                oracle = self.reg[n].oracle
                if oracle is None:
                    res.checks.append((n, len(got) > 0, f"rows-only: {len(got)}"))
                    continue
                problems = oc.compare(n, got, con.execute(oracle).fetchdf())
                res.checks.append((n, not problems, "; ".join(problems)[:300]))
        finally:
            con.close()

    def cleanup(self, res: PassResult) -> None:
        res.extra.pop("results", None)
