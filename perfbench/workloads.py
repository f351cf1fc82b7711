"""The benchmark's workloads, each a closed loop over one session.

* `KpiRefresh` (one client): the batch job. One operation is a refresh
  cycle into a fresh parquet warehouse: the six KPI pipelines via
  `cli.run_pipeline`, seed-chosen scoped writes, the two streaming legs,
  then the corpus steps (the CLI's curation pipelines and two search
  queries).
* `FarmerRequests` (two client threads sharing the session): one
  operation is one interactive lookup from a seeded, key-skewed mix,
  collected into the Python process.

Each workload has `warmup()`, `loop(seconds)` over its measured
operations, untimed `after_warmup()` / `after_op(i)` housekeeping,
`check()` (outside the timed region; compares outputs with the DuckDB
oracles through `testing.oracle.compare`) and `report()` for the metrics
it adds to the human-readable summary.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_gamma_spark import asof, cli, registry
from etl_gamma_spark.operators.responsibility import client_farmer_periods, get_responsible_farmer
from etl_gamma_spark.plans.fechamento import fechamento
from etl_gamma_spark.plans.receita_cliente import receita_cliente
from etl_gamma_spark.plans.receita_farmer_passado import receita_farmer_m_passado
from etl_gamma_spark.plans.receita_produto import receita_produto_f_m_passado
from etl_gamma_spark.sources import sink
from etl_gamma_spark.streaming.cdc_apply import build_base_snapshot, run_streaming_cdc_apply
from etl_gamma_spark.streaming.monthly_rollup import run_streaming_rollup_to_sink
from etl_gamma_spark.testing.oracle import compare

N_FARMERS = 25  # employees = nation keys of the generated fixtures
# receita_cliente's registered (oracle-checked) reporting window
CLIENTE_FIRST_MONTH = dt.date(2000, 7, 1)
CLIENTE_MONTHS = 12


def canonical(df):
    """Decimal columns as double, the form the DuckDB oracles return."""
    return df.select(*[
        F.col(f.name).cast("double").alias(f.name)
        if isinstance(f.dataType, T.DecimalType) else F.col(f.name)
        for f in df.schema.fields
    ])


def _month_range(rng: random.Random, months: int | None = None) -> tuple[dt.date, dt.date]:
    """A seed-chosen run of whole months (`months`, else 1-3) inside the
    cliente window."""
    months = months or 1 + rng.randrange(3)
    first = rng.randrange(CLIENTE_MONTHS - months + 1)
    last = first + months - 1

    def month(i: int) -> dt.date:
        y, m = divmod(CLIENTE_FIRST_MONTH.month - 1 + i, 12)
        return dt.date(CLIENTE_FIRST_MONTH.year + y, m + 1, 1)

    return month(first), month(last + 1) - dt.timedelta(days=1)


def compare_all(checks: dict, sf_dir: str, fail, what: str) -> list[str]:
    """Run `compare(df, oracle_sql)` for every entry, four at a time (each
    holds its own DuckDB connection); returns the names that differ."""
    def one(item):
        name, (df, sql) = item
        try:
            compare(df, sql, sf_dir)
        except AssertionError as e:
            fail(f"{what} {name} differs from its oracle: {e}")
            return name
        return None

    with ThreadPoolExecutor(4) as pool:
        return [n for n in pool.map(one, checks.items()) if n is not None]


def _rows_key(res) -> list[str]:
    """Order-insensitive form of one request's answer."""
    return sorted(map(repr, res)) if isinstance(res, list) else [repr(res)]


class Workload:
    def __init__(self, spark, sf_dir: str, work_dir: str, seed: int, tracer, smoke: bool):
        self.spark, self.sf, self.work, self.seed = spark, sf_dir, work_dir, seed
        self.tr, self.smoke = tracer, smoke
        self.failed_ops = 0
        self.errors: list[str] = []
        self.housekeeping_s = 0.0

    def _fail(self, what: str) -> None:
        self.errors.append(what)
        print(f"perfbench: {what}", file=sys.stderr)

    def inputs(self):
        """The seed-derived inputs the program is driven with."""
        raise NotImplementedError

    def loop(self, seconds: float) -> tuple[list[float], float]:
        """Closed loop with one client: operations back to back while the
        next one, as long as the median so far, still ends inside
        `seconds` (always at least one)."""
        lat: list[float] = []
        housekeeping = 0.0
        start = time.perf_counter()
        while not lat or (
            not self.smoke
            and time.perf_counter() - start - housekeeping + statistics.median(lat) <= seconds
        ):
            t = time.perf_counter()
            try:
                self.run_op(len(lat))
            except Exception:
                self.failed_ops += 1
                self._fail(f"operation {len(lat)} failed:\n{traceback.format_exc()}")
            lat.append(time.perf_counter() - t)
            t = time.perf_counter()
            try:
                self.after_op(len(lat) - 1)
            except Exception:
                self.failed_ops += 1
                self._fail(f"checking operation {len(lat) - 1} failed:\n{traceback.format_exc()}")
            housekeeping += time.perf_counter() - t
        self.housekeeping_s = housekeeping
        return lat, time.perf_counter() - start - housekeeping

    def after_op(self, i: int) -> None:
        """Benchmark housekeeping between operations, not timed."""

    def after_warmup(self) -> None:
        """Benchmark housekeeping after the warm-up, not timed."""

    def report(self) -> dict[str, tuple[float, str]]:
        return {}


# ---------------------------------------------------------------------------
# kpi_refresh
# ---------------------------------------------------------------------------

KPI_PIPELINES = (
    "receita_farmer_m_passado",
    "receita_farmer_m_presente",
    "receita_cliente",
    "receita_produto_f_m_passado",
    "fechamento_m_presente",
    "fechamento_m_passado",
)
# table written by the cycle -> oracle it must equal after the cycle
KPI_TABLES = {name: name for name in KPI_PIPELINES} | {
    "event_rollup": "streaming_monthly_rollup",
    "event_state": "streaming_cdc_apply",
    "curation": "curation_pipeline",
    "chunk_dedup": "chunk_dedup",
}


# The cycle's training-data steps, each reported under its operator
# family: the CLI's two corpus pipelines (written and checked like the KPI
# tables) and two search queries materialized with the noop sink.
CURATION_PIPELINES = (("curation", "quality"), ("chunk_dedup", "dedup"))
SEARCH_QUERIES = (("minhash_lsh_pairs", "similarity"), ("bm25_topk", "retrieval"))

class KpiRefresh(Workload):
    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        rng = random.Random(self.seed)
        # per cycle: a farmer for each farmer-grain table and a two-month
        # range (a fixed size, so that the seed moves which rows are
        # rewritten but not how many)
        self.scopes = [
            (rng.randrange(N_FARMERS), rng.randrange(N_FARMERS), _month_range(rng, 2))
            for _ in range(64)
        ]
        self.scoped_s: list[float] = []
        self.curation_s: list[float] = []
        self.warehouse_b: list[int] = []
        self.outputs: dict[str, tuple] = {}

    def inputs(self):
        # the corpus is seed-generated too; the scopes are what the seed picks here
        return self.scopes

    def warmup(self) -> None:
        self.cycle(-1, warmup=True)

    def after_warmup(self) -> None:
        self._drop(-1)

    def run_op(self, i: int) -> None:
        self.cycle(i)

    def cycle(self, i: int, warmup: bool = False) -> None:
        spark, sf, tr = self.spark, self.sf, self.tr
        wh = os.path.join(self.work, f"cycle{i}")
        ckpt = os.path.join(self.work, f"checkpoints{i}")
        farmer_a, farmer_b, (d0, d1) = self.scopes[i % len(self.scopes)]
        with tr.op("refresh_cycle", warmup=warmup):
            for name in KPI_PIPELINES:
                cli.run_pipeline(spark, name, sf, wh, None, 11, asof.AS_OF_TPCH)
            t = time.perf_counter()
            cli.run_pipeline(spark, "receita_farmer_m_passado", sf, wh, farmer_a, 11, asof.AS_OF_TPCH)
            cli.run_pipeline(spark, "receita_produto_f_m_passado", sf, wh, farmer_b, 11, asof.AS_OF_TPCH)
            registry._ensure_model(spark, sf)
            scoped = receita_cliente(
                spark.table("positivador_historical"), spark.table("coe"),
                spark.table("operacoes_estruturadas"), spark.table("clients"),
                spark.table("employees"), data_inicio=d0, data_fim=d1,
            )
            sink.overwrite_date_range(
                spark, sink.stamp_audit(canonical(scoped)), os.path.join(wh, "receita_cliente"),
                "data_operacao", d0, d1, ["mes"],
            )
            scoped_s = time.perf_counter() - t
            with tr.span("streaming.apply", leg="rollup") as s:
                run_streaming_rollup_to_sink(
                    spark, sf, os.path.join(wh, "event_rollup"), os.path.join(ckpt, "rollup")
                )
                tr.count_commits(s, os.path.join(ckpt, "rollup"))
            with tr.span("streaming.apply", leg="cdc") as s:
                state = os.path.join(wh, "event_state")
                build_base_snapshot(spark.table("events"), state)
                run_streaming_cdc_apply(spark, sf, state, os.path.join(ckpt, "cdc"))
                tr.count_commits(s, os.path.join(ckpt, "cdc"))
            t = time.perf_counter()
            with tr.section("operators.chain"):
                self.curation(wh, collect=warmup)
            curation_s = time.perf_counter() - t
        if not warmup:
            self.scoped_s.append(scoped_s)
            self.curation_s.append(curation_s)

    def curation(self, wh: str, collect: bool) -> None:
        """The corpus steps; `collect` keeps the search results for check()
        instead of discarding them through the noop sink."""
        for name, family in CURATION_PIPELINES:
            with self.tr.span(f"operators.{family}", query=name):
                cli.run_pipeline(self.spark, name, self.sf, wh, None, 11, asof.AS_OF_TPCH)
        for query, family in SEARCH_QUERIES:
            with self.tr.span(f"operators.{family}", query=query):
                with self.tr.span("plans.build"):
                    df = registry.QUERIES[query](self.spark, self.sf)
                if collect:
                    self.outputs[query] = (df.schema, df.collect())
                else:
                    df.write.mode("overwrite").format("noop").save()

    def _drop(self, i: int) -> None:
        # on a filesystem that discards freed blocks, deleting a cycle's ~2300
        # files costs 1 s while they are unflushed and 15-20 s once written
        # back, as a measured cycle's files usually are by the time it is
        # checked; this is outside the timed operation either way
        for d in (f"cycle{i}", f"checkpoints{i}"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)

    def after_op(self, i: int) -> None:
        """Check the cycle's tables, read back without the updated_at audit
        column, against their oracles, then delete the cycle right away."""
        wh = os.path.join(self.work, f"cycle{i}")
        self.warehouse_b.append(sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(wh) for f in fs
        ))
        checks = {
            table: (canonical(self.spark.read.parquet(os.path.join(wh, table)).drop("updated_at")),
                    registry.ORACLES[oracle])
            for table, oracle in KPI_TABLES.items()
        }
        if compare_all(checks, self.sf, self._fail, f"kpi_refresh cycle {i} table"):
            self.failed_ops += 1
        self._drop(i)

    def check(self, n_ops: int) -> None:
        """The warm-up cycle's search results against their oracles (the
        cycles' tables were checked as each cycle ended)."""
        if not self.outputs:  # smoke runs skip the warm-up cycle
            for query, _ in SEARCH_QUERIES:
                df = registry.QUERIES[query](self.spark, self.sf)
                self.outputs[query] = (df.schema, df.collect())
        checks = {
            query: (self.spark.createDataFrame(rows, schema), registry.ORACLES[query])
            for query, (schema, rows) in self.outputs.items()
        }
        if compare_all(checks, self.sf, self._fail, "kpi_refresh search query"):
            self.failed_ops = n_ops

    def report(self):
        return {
            "refresh_s": (statistics.median(self.op_latencies), "s"),
            "scoped_refresh_s": (statistics.median(self.scoped_s), "s"),
            "curation_s": (statistics.median(self.curation_s), "s"),
            "warehouse_mb": (statistics.median(self.warehouse_b) / 1e6, "MB"),
        }


# ---------------------------------------------------------------------------
# farmer_requests
# ---------------------------------------------------------------------------

# kind -> requests of that kind in every block of 20 (50/20/15/10/5 %).
# Exact per-block counts keep the mix of a short run the same for every
# seed; only the order, the keys and the parameters vary.
REQUEST_BLOCK = (
    ("farmer_m_passado", 10),
    ("produto_f_m_passado", 4),
    ("fechamento", 3),
    ("cliente", 2),
    ("responsavel", 1),
)
CLIENTS = 2


def request_stream(seed: int, n: int, n_customers: int) -> list[tuple[str, dict]]:
    """n requests in shuffled blocks of REQUEST_BLOCK. Farmers are drawn
    with Zipf-like skew (a few hot farmers) over a seed-shuffled ranking."""
    rng = random.Random(seed)
    ranked = list(range(N_FARMERS))
    rng.shuffle(ranked)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(N_FARMERS)]
    block = [kind for kind, count in REQUEST_BLOCK for _ in range(count)]
    out = []
    while len(out) < n:
        rng.shuffle(block)
        for kind in block:
            farmer = rng.choices(ranked, weights)[0]
            if kind == "farmer_m_passado":
                p = {"farmer": farmer, "months_back": rng.choice((3, 6, 11))}
            elif kind == "produto_f_m_passado":
                p = {"farmer": farmer}
            elif kind == "fechamento":
                p = {"name": f"NATION_{farmer}"}
            elif kind == "cliente":
                d0, d1 = _month_range(rng)
                p = {"farmer": farmer, "d0": d0, "d1": d1}
            else:
                p = {"client": rng.randrange(n_customers),
                     "date": dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(2555))}
            out.append((kind, p))
    return out[:n]


def _sql_lit(v) -> str:
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(int(v))


def _values(name: str, cols: list[str], rows: list[list]) -> str:
    body = ", ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    return f"{name}({', '.join(cols)}) AS (VALUES {body})"


def _oracle(name: str) -> str:
    return f"{name} AS ({registry.ORACLES[name]})"


class FarmerRequests(Workload):
    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        n_customers = self.spark.read.parquet(os.path.join(self.sf, "customer.parquet")).count()
        # one stream shared by the client threads, each taking the next
        # request when its previous one completes
        self.stream = request_stream(self.seed, 8000, n_customers)
        self.warm = request_stream(self.seed + 1_000_003, 40, n_customers)
        self.results: list[tuple[str, dict, object]] = []
        self.schemas: dict[str, T.StructType] = {}
        self.kind_s: dict[str, list[float]] = {}
        self._lock = threading.Lock()

    def inputs(self):
        return self.stream

    def _tables(self, *names):
        return [self.spark.table(n) for n in names]

    def _build(self, kind: str, p: dict):
        rev = self._tables("revenue_records_historical", "clients", "employees")
        if kind == "farmer_m_passado":
            return receita_farmer_m_passado(
                *rev, as_of=asof.AS_OF_TPCH, months_back=p["months_back"], farmer_id=p["farmer"]
            )
        if kind == "produto_f_m_passado":
            return receita_produto_f_m_passado(
                *rev, as_of=asof.AS_OF_TPCH, months_back=11, farmer_id=p["farmer"]
            )
        if kind == "fechamento":
            return fechamento(
                *self._tables("positivador_historical", "coe", "operacoes_estruturadas",
                              "clients", "employees", "client_transfers", "compensation"),
                as_of=asof.AS_OF_EVENTS, employee_name=p["name"],
            )
        return receita_cliente(
            *self._tables("positivador_historical", "coe", "operacoes_estruturadas",
                          "clients", "employees"),
            data_inicio=p["d0"], data_fim=p["d1"], farmer_id=p["farmer"],
            periods=self._periods(),
        )

    def _periods(self):
        return client_farmer_periods(*self._tables("clients", "client_transfers", "employees"))

    def serve(self, kind: str, p: dict):
        """One request as an interactive service would handle it."""
        tr = self.tr
        registry._ensure_model(self.spark, self.sf)
        if kind == "responsavel":
            with tr.span("plans.build"):
                periods = self._periods()
            with tr.span("operators.responsibility"):
                return get_responsible_farmer(periods, p["client"], p["date"])
        with tr.span("plans.build"):
            df = self._build(kind, p)
        tr.force_plan(df)
        rows = df.collect()
        if kind not in self.schemas:
            with self._lock:
                self.schemas.setdefault(kind, df.schema)
        return rows

    def warmup(self) -> None:
        seen: dict[str, int] = {}
        for kind, p in self.warm:
            if seen.get(kind, 0) < 2:
                with self.tr.op(kind, warmup=True):
                    self.serve(kind, p)
                seen[kind] = seen.get(kind, 0) + 1

    def loop(self, seconds: float) -> tuple[list[float], float]:
        lat: list[float] = []
        start = time.perf_counter()
        deadline = start + seconds
        ends: list[float] = []

        requests = iter(self.stream)

        def client() -> None:
            while time.perf_counter() < deadline:
                with self._lock:
                    kind, p = next(requests)
                t = time.perf_counter()
                try:
                    with self.tr.op(kind):
                        res = self.serve(kind, p)
                    with self._lock:
                        self.results.append((kind, p, res))
                except Exception:
                    with self._lock:
                        self.failed_ops += 1
                    self._fail(f"request {kind} {p} failed:\n{traceback.format_exc()}")
                with self._lock:
                    lat.append(time.perf_counter() - t)
                    self.kind_s.setdefault(kind, []).append(lat[-1])
                if self.smoke:
                    break
            ends.append(time.perf_counter())

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return lat, max(ends) - start

    def check(self, n_ops: int) -> None:
        """Per kind: every distinct request checked once against the
        oracle-derived answer, every repeat against the first answer."""
        first: dict[tuple, tuple[int, object]] = {}
        bad_keys: set[tuple] = set()
        for kind, p, res in self.results:
            key = (kind, tuple(sorted(p.items())))
            if key not in first:
                first[key] = (len(first), res)
            elif _rows_key(res) != _rows_key(first[key][1]):
                bad_keys.add(key)
                self._fail(f"request {key} answered differently on a repeat")
        by_kind: dict[str, list[tuple[int, dict, object]]] = {}
        for (kind, items), (rid, res) in first.items():
            by_kind.setdefault(kind, []).append((rid, dict(items), res))
        checks = {
            kind: (self._actual(kind, reqs), self._expected(kind, reqs))
            for kind, reqs in by_kind.items()
        }
        for kind in compare_all(checks, self.sf, self._fail, "farmer_requests kind"):
            bad_keys.update((kind, tuple(sorted(p.items()))) for _, p, _ in by_kind[kind])
        self.failed_ops += sum(
            1 for kind, p, _ in self.results if (kind, tuple(sorted(p.items()))) in bad_keys
        )

    def _actual(self, kind: str, reqs):
        if kind == "responsavel":
            schema = T.StructType([
                T.StructField("req_id", T.LongType()),
                T.StructField("farmer_id", T.IntegerType()),
                T.StructField("farmer_name", T.StringType()),
            ])
            return self.spark.createDataFrame([(rid, *res) for rid, _, res in reqs], schema)
        schema = T.StructType([T.StructField("req_id", T.LongType()), *self.schemas[kind].fields])
        rows = [(rid, *row) for rid, _, res in reqs for row in res]
        return canonical(self.spark.createDataFrame(rows, schema))

    @staticmethod
    def _expected(kind: str, reqs) -> str:
        if kind == "farmer_m_passado":
            req = _values("req", ["req_id", "farmer", "m"],
                          [[rid, p["farmer"], p["months_back"]] for rid, p, _ in reqs])
            cur = _sql_lit(asof.AS_OF_TPCH.replace(day=1))
            return (f"WITH {_oracle('receita_farmer_m_passado')}, {req} "
                    "SELECT req.req_id, b.* FROM receita_farmer_m_passado b "
                    "JOIN req ON b.farmer_id = req.farmer "
                    f"WHERE b.mes >= CAST({cur} - to_months(req.m) AS DATE)")
        if kind == "produto_f_m_passado":
            req = _values("req", ["req_id", "farmer"], [[rid, p["farmer"]] for rid, p, _ in reqs])
            return (f"WITH {_oracle('receita_produto_f_m_passado')}, {req} "
                    "SELECT req.req_id, b.* FROM receita_produto_f_m_passado b "
                    "JOIN req ON b.farmer_id = req.farmer")
        if kind == "fechamento":
            req = _values("req", ["req_id", "name"], [[rid, p["name"]] for rid, p, _ in reqs])
            return (f"WITH {_oracle('fechamento_m_presente')}, {req} "
                    "SELECT req.req_id, b.* FROM fechamento_m_presente b "
                    "JOIN req ON b.farmer_name = req.name")
        if kind == "cliente":
            req = _values("req", ["req_id", "farmer", "d0", "d1"],
                          [[rid, p["farmer"], p["d0"], p["d1"]] for rid, p, _ in reqs])
            return (f"WITH {_oracle('receita_cliente')}, {_oracle('responsibility_periods')}, {req} "
                    "SELECT req.req_id, b.* FROM receita_cliente b "
                    "JOIN req ON b.data_operacao BETWEEN req.d0 AND req.d1 "
                    "WHERE EXISTS (SELECT 1 FROM responsibility_periods p "
                    "WHERE p.client_id = b.client_id AND p.farmer_id = req.farmer "
                    "AND p.start_date <= b.data_operacao "
                    "AND (p.end_date IS NULL OR b.data_operacao < p.end_date))")
        req = _values("req", ["req_id", "client", "d"],
                      [[rid, p["client"], p["date"]] for rid, p, _ in reqs])
        return (f"WITH {_oracle('responsibility_periods')}, {req}, "
                "m AS (SELECT req.req_id, p.farmer_id, p.farmer_name, row_number() OVER ("
                "PARTITION BY req.req_id ORDER BY p.start_date NULLS LAST, p.farmer_id NULLS LAST) AS rn "
                "FROM req JOIN responsibility_periods p ON p.client_id = req.client "
                "AND p.start_date <= req.d AND (p.end_date IS NULL OR req.d < p.end_date)) "
                "SELECT req.req_id, m.farmer_id, m.farmer_name FROM req "
                "LEFT JOIN m ON m.req_id = req.req_id AND m.rn = 1")

    def report(self):
        lat = sorted(self.op_latencies)
        return {
            "request_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "request_p95_ms": (percentile(lat, 0.95) * 1e3, "ms"),
            "requests_per_s": (len(lat) / self.loop_wall, "1/s"),
        } | {  # 0 for a kind a one-request smoke run did not reach
            f"{kind}_p50_ms": (statistics.median(self.kind_s.get(kind, [0.0])) * 1e3, "ms")
            for kind, _ in REQUEST_BLOCK
        }


def percentile(sorted_values: list[float], q: float) -> float:
    """Linear-interpolated percentile of an already sorted list."""
    if len(sorted_values) == 1:
        return sorted_values[0]
    return statistics.quantiles(sorted_values, n=100, method="inclusive")[round(q * 100) - 1]


WORKLOADS = {
    "kpi_refresh": KpiRefresh,
    "farmer_requests": FarmerRequests,
}
