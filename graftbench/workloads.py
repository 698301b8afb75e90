"""The three workloads: ETL batch, REST view reads, the catalog pass.

fastapi is not installed, so each op calls the program's public functions
in the same order as the body of the matching ``api/app.py`` handler. The
HTTP layer (routing, JSON, path confinement) is not measured. Every op is
checked after its clock stops; a raised error or a wrong answer fails the
op. Each workload's ``iteration`` is one fixed unit of ops (one ETL run,
one request sequence, one pass over the 22 headliners), and a window runs
whole iterations, so every window holds the same mix of ops.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass

import charges as charges_gen
import corpus as corpus_gen

# Input sizes: name -> (etl rows, warehouse rows, corpus scale)
SIZES = {"default": (100_000, 50_000, 0.5),
         "tiny": (2_000, 3_000, 0.05)}
PAGE = 1000
KEYSET_LIMIT = 100


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    error: str = ""


class CheckFailed(Exception):
    pass


def corrupt(value):
    """A wrong version of an expected answer, for the benchmark's own
    smoke test: every op checked against it must fail."""
    if isinstance(value, bool):
        return not value
    if isinstance(value, (int, float)):
        return value + 1
    if isinstance(value, str):
        return value + "#"
    if isinstance(value, dict):
        return {k: corrupt(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return list(value) + [("#corrupt#",)]
    return ("#corrupt#", value)


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _order_key(row):
    """Spark's ascending total order over a row: NULLS FIRST, NaN last."""
    out = []
    for v in row:
        if v is None:
            out.append((0,))
        elif isinstance(v, float) and math.isnan(v):
            out.append((2,))
        else:
            out.append((1, v))
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, size: str, corrupt_expected):
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.size = SIZES[size]
        self.corrupt = corrupt_expected
        self.spark = None
        self.tracer = None
        self.check_s = 0.0      # untimed check work done inside set-up
        self.info: dict = {}    # facts for the run_info line

    def expect(self, actual, expected, what: str) -> None:
        if self.corrupt:
            expected = corrupt(expected)
        if actual != expected:
            raise CheckFailed(f"{what}: got {str(actual)[:200]} "
                              f"expected {str(expected)[:200]}")

    def run_op(self, kind: str, body, check) -> Op:
        """Time ``body`` (the handler body), then check its result."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op:{kind}"):
                result = body()
        except Exception as exc:  # noqa: BLE001 - a failed op, counted
            return Op(kind, time.perf_counter() - t0, False,
                      f"{type(exc).__name__}: {exc}"[:300])
        seconds = time.perf_counter() - t0
        try:
            check(result)
        except CheckFailed as exc:
            return Op(kind, seconds, False, str(exc)[:300])
        return Op(kind, seconds, True)

    def checked(self, fn, *args):
        """Run set-up check work off the set-up clock."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.check_s += time.perf_counter() - t0

    # subclasses: make_inputs() before the clock, setup(), iteration()
    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {}


# -- ETL ---------------------------------------------------------------------

def etl_run(spark, span, csv_path: str, out_dir: str) -> dict:
    """Body of ``POST /etl/run`` (api/app.py), one span per layer call."""
    from python_etl_rest_api_spark.operators.clean import (
        build_dim_fact, clean_pipeline)
    from python_etl_rest_api_spark.operators.load import atomic_overwrite
    from python_etl_rest_api_spark.sources.csv_source import read_charges_csv
    with span("sources.read"):
        raw = read_charges_csv(spark, csv_path)
    with span("clean.pipeline"):
        clean, critical = clean_pipeline(raw)
    with span("etl.cache"):
        clean = clean.cache()
    with span("load.build_dim_fact"):
        companies, charges = build_dim_fact(clean)
    counts = {}
    for name, df in (("original", raw), ("clean", clean),
                     ("critical", critical)):
        with span(f"etl.{'raw' if name == 'original' else name}_count"):
            counts[name] = df.count()
    for name, df in (("clean", clean), ("critical", critical),
                     ("companies", companies), ("charges", charges)):
        with span(f"load.overwrite.{name}"):
            atomic_overwrite(df, os.path.join(out_dir, name))
    return {"counts": counts, "out_dir": out_dir}


def served(out_dir: str) -> dict:
    """What the warehouse serves, read by DuckDB (not by the program)."""
    import duckdb
    con = duckdb.connect()
    try:
        n, cents = con.sql(
            "SELECT count(*), sum(CAST(round(amount * 100) AS BIGINT)) "
            f"FROM read_parquet('{out_dir}/charges/*.parquet')").fetchone()
        (companies,) = con.sql(
            "SELECT count(*) FROM "
            f"read_parquet('{out_dir}/companies/*.parquet')").fetchone()
    finally:
        con.close()
    return {"charges": n, "companies": companies, "cents": int(cents or 0)}


def _expected_etl(exp) -> dict:
    return {"counts": {"original": exp.original, "clean": exp.clean,
                       "critical": exp.critical},
            "served": {"charges": exp.clean, "companies": exp.companies,
                       "cents": exp.cents_total}}


def _written(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files in the version ``path`` serves."""
    target = os.path.realpath(path)
    files = [f for f in os.listdir(target) if f.startswith("part-")]
    return len(files), sum(os.path.getsize(os.path.join(target, f))
                           for f in files)


class EtlBatch(Workload):
    name = "etl_batch"

    def make_inputs(self) -> dict:
        os.makedirs(os.path.join(self.work, "inputs"), exist_ok=True)
        self.csv = os.path.join(self.work, "inputs", "charges.csv")
        self.exp = charges_gen.generate(self.csv, self.size[0], self.seed)
        self.out = os.path.join(self.work, "etl_out")
        self.n = 0
        self.written: list[tuple[int, int]] = []
        return {"etl_rows": self.size[0],
                "etl_csv_bytes": os.path.getsize(self.csv)}

    def setup(self) -> None:
        # op time falls over the first ops as the JIT compiles the parse
        # and write paths; the first two are set-up
        for _ in range(2):
            op = self._op()
            if not op.ok:
                raise RuntimeError(f"warm-up ETL op failed: {op.error}")

    def iteration(self) -> list[Op]:
        return [self._op()]

    def _op(self) -> Op:
        self.n += 1
        copy = os.path.join(self.work, "inputs", f"op{self.n}.csv")
        shutil.copyfile(self.csv, copy)

        def check(result):
            self.expect({"counts": result["counts"],
                         "served": served(self.out)},
                        _expected_etl(self.exp), "etl")

        op = self.run_op("etl", lambda: etl_run(
            self.spark, self.tracer.span, copy, self.out), check)
        if self.tracer.enabled and op.ok:
            files = bytes_ = 0
            for table in ("clean", "critical", "companies", "charges"):
                f, b = _written(os.path.join(self.out, table))
                files, bytes_ = files + f, bytes_ + b
            self.written.append((files, bytes_))
        os.remove(copy)
        return op

    def layer_metrics(self, ops):
        t = self.tracer
        per_op = [s for s in t.ops() if s.name == "op:etl"]
        out = {"etl.csv_scans_per_op": _mean(
            [t.op_stats(s)["csv_scans"] for s in per_op])}
        for name in ("raw_count", "clean_count", "critical_count"):
            out[f"etl.{name}_ms"] = _median(_span_ms(t, f"etl.{name}"))
        for table in ("clean", "critical", "companies", "charges"):
            out[f"load.overwrite_ms.{table}"] = _median(
                _span_ms(t, f"load.overwrite.{table}"))
        out["load.files_written_per_op"] = _mean([w[0] for w in self.written])
        out["load.bytes_written_per_op"] = _mean([w[1] for w in self.written])
        out["sources.read_ms"] = _median(_span_ms(t, "sources.read"))
        return out


def _span_ms(tracer, name: str) -> list[float]:
    return [s.ms for s in tracer.spans if s.name == name]


# -- REST view reads -----------------------------------------------------------

def view_request(spark, span, warehouse_dir: str, date=None, start=None,
                 end=None, limit: int = PAGE, offset: int = 0,
                 after: str | None = None) -> dict:
    """Body of ``GET /view/daily_company_totals`` (api/app.py)."""
    from pyspark.sql import functions as F

    from python_etl_rest_api_spark.api.app import (
        next_cursor, paginate, parse_cursor)
    from python_etl_rest_api_spark.operators.analytics import (
        daily_company_totals)
    with span("sources.read"):
        charges = spark.read.parquet(os.path.join(warehouse_dir, "charges"))
        companies = spark.read.parquet(
            os.path.join(warehouse_dir, "companies"))
    with span("api.plan"):
        view = daily_company_totals(charges, companies)
        if date:
            view = view.filter(
                F.col("transaction_date") == F.lit(date).cast("date"))
        elif start and end:
            view = view.filter(F.col("transaction_date").between(start, end))
    with span("api.parse_cursor"):
        cursor = parse_cursor(view, after) if after is not None else None
    with span("api.paginate"):
        page, limit, offset = paginate(view, limit, offset, after=cursor)
    with span("api.rows"):
        return {"rows": [r.asDict() for r in page],
                "limit": limit, "offset": offset,
                "next": next_cursor(view.columns, page, limit)}


VIEW_ORACLE = """
    SELECT co.company_name,
           CAST(ch.created_at AS DATE) AS transaction_date,
           SUM(CAST(round(ch.amount * 100) AS BIGINT)) / 100.0
             AS total_amount
    FROM read_parquet('{wh}/charges/*.parquet') ch
    JOIN read_parquet('{wh}/companies/*.parquet') co USING (company_id)
    GROUP BY 1, 2
"""


def _view_oracle(wh: str) -> list[tuple]:
    import duckdb
    con = duckdb.connect()
    try:
        rows = con.sql(VIEW_ORACLE.format(wh=wh)).fetchall()
    finally:
        con.close()
    return sorted((r[0], r[1], float(r[2])) for r in rows)


def _page_rows(result) -> list[tuple]:
    return [(r["company_name"], r["transaction_date"], r["total_amount"])
            for r in result["rows"]]


class RestReads(Workload):
    name = "rest_reads"

    def make_inputs(self) -> dict:
        os.makedirs(os.path.join(self.work, "inputs"), exist_ok=True)
        self.csv = os.path.join(self.work, "inputs", "charges.csv")
        self.exp = charges_gen.generate(self.csv, self.size[1], self.seed)
        self.wh = os.path.join(self.work, "warehouse")
        self.rows_returned = 0
        self.days = [charges_gen.DAY0 + dt.timedelta(days=d)
                     for d in range(charges_gen.N_DAYS)]
        return {"warehouse_rows": self.size[1],
                "warehouse_csv_bytes": os.path.getsize(self.csv)}

    def setup(self) -> None:
        from python_etl_rest_api_spark.operators.first100 import First100
        result = etl_run(self.spark, self.tracer.span, self.csv, self.wh)

        def check():
            got = {"counts": result["counts"], "served": served(self.wh)}
            want = _expected_etl(self.exp)
            if got != want:   # a broken warehouse fails the whole run
                raise RuntimeError(f"warehouse build: {got} != {want}")
            self.view = _view_oracle(self.wh)
        self.checked(check)
        self.state = First100(self.spark,
                              store_path=os.path.join(self.work, "first100"))
        ops = self.iteration()
        bad = [o for o in ops if not o.ok]
        if bad:
            raise RuntimeError(f"warm-up request failed: {bad[0].error}")

    def _view(self, kind, expected, **params) -> tuple[Op, dict | None]:
        box = {}

        def body():
            box["r"] = view_request(self.spark, self.tracer.span, self.wh,
                                    **params)
            return box["r"]

        def check(result):
            self.expect(_page_rows(result), expected, kind)
        op = self.run_op(kind, body, check)
        if self.tracer.enabled and op.ok:
            self.rows_returned += len(box["r"]["rows"])
        return op, box.get("r")

    def iteration(self) -> list[Op]:
        from python_etl_rest_api_spark.operators.first100 import (
            ValidationError)
        rng, view, ops = self.rng, self.view, []
        day = rng.choice(self.days)
        ops.append(self._view("view_date", [r for r in view if r[1] == day],
                              date=day.isoformat())[0])

        lo = rng.choice(self.days[:-14])
        hi = lo + dt.timedelta(days=13)
        offset = rng.randrange(0, 300)
        rows = [r for r in view if lo <= r[1] <= hi]
        ops.append(self._view("view_between", rows[offset:offset + PAGE],
                              start=lo.isoformat(), end=hi.isoformat(),
                              offset=offset)[0])

        lo = rng.choice(self.days[:-30])
        hi = lo + dt.timedelta(days=29)
        rows = [r for r in view if lo <= r[1] <= hi]
        op, first = self._view("view_keyset_first", rows[:KEYSET_LIMIT],
                               start=lo.isoformat(), end=hi.isoformat(),
                               limit=KEYSET_LIMIT)
        ops.append(op)
        after = json.dumps(first["next"]) if first and first["next"] \
            else None
        ops.append(self._view(
            "view_keyset_next", rows[KEYSET_LIMIT:2 * KEYSET_LIMIT],
            start=lo.isoformat(), end=hi.isoformat(), limit=KEYSET_LIMIT,
            after=after)[0])

        ops.append(self._view("view_limit50", view[:50], limit=50)[0])

        state, k = self.state, rng.randint(1, 100)

        def rejected():
            with self.tracer.span("first100.extract_dup"):
                try:
                    state.extract(k)
                except ValidationError:
                    return True
            return False

        def f100(kind, body, expected):
            def traced():
                with self.tracer.span(kind.replace("first100_",
                                                   "first100.")):
                    return body()
            return self.run_op(kind, traced, lambda r: self.expect(
                r, expected, kind))

        ops.append(f100("first100_reset", state.reset,
                        {"status": "reset", "remaining_count": 100}))
        ops.append(f100("first100_extract", lambda: state.extract(k),
                        {"extracted": k, "remaining_count": 99}))
        ops.append(f100("first100_missing", state.missing, k))
        ops.append(self.run_op("first100_extract_dup", rejected,
                               lambda r: self.expect(r, True,
                                                     "duplicate extract")))
        return ops

    def layer_metrics(self, ops):
        t = self.tracer
        out = {"sources.read_ms": _median(_span_ms(t, "sources.read"))}
        for name in ("plan", "parse_cursor", "paginate", "rows"):
            ms = _span_ms(t, f"api.{name}")
            if name == "parse_cursor":   # only the keyset request parses one
                ms = [s.ms for s in t.spans if s.name == "api.parse_cursor"
                      and t.spans[s.parent].name == "op:view_keyset_next"]
            out[f"api.{name}_ms"] = _median(ms)
        read = sum(t.op_stats(s)["input_records"] for s in t.ops()
                   if s.name.startswith("op:view"))
        out["api.rows_read_per_row_returned"] = \
            read / self.rows_returned if self.rows_returned else 0.0
        for name in ("extract", "missing", "reset"):
            out[f"first100.{name}_ms"] = _median(_span_ms(t, f"first100.{name}"))
        calls = [s for s in t.ops() if s.name.startswith("op:first100")]
        out["first100.jobs_per_call"] = _mean(
            [t.op_stats(s)["jobs"] for s in calls])
        return out


# -- catalog headliners ----------------------------------------------------------

def catalog_request(spark, span, name: str, sf_dir: str,
                    limit: int = PAGE) -> dict:
    """Body of ``GET /catalog/{name}`` (api/app.py)."""
    from python_etl_rest_api_spark import opcache, registry
    from python_etl_rest_api_spark.api.app import paginate
    try:
        with span("catalog.build"):
            df = registry.QUERIES_RAW[name](spark, sf_dir)
        with span("catalog.collect"):
            page, limit, offset = paginate(df, limit, 0)
            return {"name": name, "columns": df.columns,
                    "rows": [r.asDict() for r in page],
                    "limit": limit, "offset": offset}
    finally:
        with span("catalog.release"):
            opcache.release_all()


def catalog_oracles(sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Each entry's ORACLES SQL on DuckDB: columns and the first page in
    Spark's total order (every column ascending, NULLS FIRST)."""
    import duckdb

    from python_etl_rest_api_spark import registry
    con = duckdb.connect()
    try:
        for t in corpus_gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            rel = con.sql(registry.ORACLES[name])
            out[name] = {"columns": list(rel.columns),
                         "rows": rel.fetchall()}
    finally:
        con.close()
    return out


def _normalized_page(columns, rows, limit):
    """Page in total order over ``columns`` order, then cells normalized
    and keyed by column name (the oracle may order columns differently)."""
    page = sorted(rows, key=_order_key)[:limit]
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(_cell(r[i]) for i in order) for r in page]


class CatalogHeadline(Workload):
    name = "catalog_headline"

    def make_inputs(self) -> dict:
        from bench import HEADLINE
        self.names = list(HEADLINE)
        self.sf = os.path.join(self.work, "sf")
        rows = corpus_gen.generate(self.sf, self.seed, self.size[2])
        self.oracle = catalog_oracles(self.sf, self.names)
        self.cached_after_release: list[tuple[str, int]] = []
        return {"corpus_scale": self.size[2],
                "corpus_lineitem_rows": rows["lineitem"]}

    def setup(self) -> None:
        """Warm-up: every entry once, four at a time.

        A sequential cold pass costs about twice a warm one, more than a
        run can afford next to the measured pass. Running the warm-up on
        four client threads (the REST server's thread pool does the same)
        overlaps the driver-side planning and code generation of
        different entries and takes about two thirds of the time. A
        warm-up call that fails is recorded, not fatal: the measured pass
        checks every entry."""
        from concurrent.futures import ThreadPoolExecutor
        span = self.tracer.span
        with ThreadPoolExecutor(4) as pool:
            futures = {name: pool.submit(catalog_request, self.spark, span,
                                         name, self.sf)
                       for name in self.names}
        errors = {name: f"{type(f.exception()).__name__}: {f.exception()}"
                  for name, f in futures.items() if f.exception()}
        self.info["warmup_errors"] = errors

    def iteration(self) -> list[Op]:
        """One op: a pass over the 22 entries in a seeded order.

        The op is the pass, not the entry call: with one call per entry in
        a window, the median of 22 unlike latencies moved by 26% between
        runs, while the pass time moved by 4%. Per-entry latencies are
        per-layer metrics."""
        order = list(self.names)
        self.rng.shuffle(order)

        def body():
            results = {}
            for name in order:
                try:
                    with self.tracer.span(f"entry:{name}"):
                        results[name] = catalog_request(
                            self.spark, self.tracer.span, name, self.sf)
                except Exception as exc:  # noqa: BLE001 - fails the pass
                    results[name] = exc
                if self.tracer.enabled:
                    self.cached_after_release.append(
                        (name, self._cached_bytes()))
            return results

        def check(results):
            wrong = []
            for name in order:
                try:
                    self._check_entry(name, results[name])
                except CheckFailed as exc:
                    wrong.append(str(exc))
            if wrong:
                raise CheckFailed(f"{len(wrong)} entries wrong: "
                                  + "; ".join(wrong)[:1000])
        return [self.run_op("catalog_pass", body, check)]

    def _check_entry(self, name: str, result) -> None:
        if isinstance(result, Exception):
            raise CheckFailed(f"{name}: {type(result).__name__}: {result}")
        ora = self.oracle[name]
        cols = result["columns"]
        self.expect(sorted(cols), sorted(ora["columns"]), f"{name} columns")
        idx = [ora["columns"].index(c) for c in cols]
        got = [tuple(r[c] for c in cols) for r in result["rows"]]
        want = [tuple(r[i] for i in idx) for r in ora["rows"]]
        self.expect(_normalized_page(cols, got, PAGE),
                    _normalized_page(cols, want, PAGE), name)

    def _cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def layer_metrics(self, ops):
        t = self.tracer
        out = {}
        for name in ("build", "collect", "release"):
            out[f"catalog.{name}_ms"] = _mean(_span_ms(t, f"catalog.{name}"))
        for name in self.names:
            spans = [s for s in t.spans if s.name == f"entry:{name}"]
            out[f"catalog.{name}.ms"] = _median([s.ms for s in spans])
            out[f"catalog.{name}.jobs"] = _mean(
                [t.op_stats(s)["jobs"] for s in spans])
        out["catalog.cached_bytes_after_release"] = max(
            (b for _, b in self.cached_after_release), default=0)
        self.info["cached_bytes_after_release_by_entry"] = {
            n: b for n, b in self.cached_after_release if b}
        return out


WORKLOADS = {w.name: w for w in (EtlBatch, RestReads, CatalogHeadline)}
