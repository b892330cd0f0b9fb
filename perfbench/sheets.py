"""The sheet_scan and sheet_publish workloads.

Inputs come from a seeded generator; the program receives only the
generated grids and rows, through the emulator. Every check here is
computed from the generated inputs with the reference's rules written
out again in this file, so a connector bug cannot hide behind itself.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import statistics
import time
from contextlib import contextmanager

from pyspark import cloudpickle
from pyspark.sql import functions as F

from duckdb_gsheets_spark.sources.gsheets import api
from duckdb_gsheets_spark.sources.gsheets.auth import BearerTokenAuth
from duckdb_gsheets_spark.sources.gsheets.client import GSheetsClient
from duckdb_gsheets_spark.sources.gsheets.datasource import (
    BATCH_ROWS,
    AppendResult,
    GSheetsReader,
    GSheetsWriter,
)
from duckdb_gsheets_spark.sources.gsheets.inference import cast_rows, infer_schema
from duckdb_gsheets_spark.sources.gsheets.transport import RequestsTransport
from duckdb_gsheets_spark.sources.gsheets.urls import url_encode
from workload import Workload

TOKEN = "perfbench"
URL_PREFIX = "https://docs.google.com/spreadsheets/d/"
WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango").split()
HTTP_ROUTES = ("metadata_get", "values_get", "append", "clear", "update")


def http_summary(log: list[dict]) -> dict[str, float]:
    """Per-op HTTP counts, bytes seen by the client and emulator busy time."""
    out: dict[str, float] = {f"http.calls.{r}": 0 for r in HTTP_ROUTES}
    for entry in log:
        key = f"http.calls.{entry['route']}"
        out[key] = out.get(key, 0) + 1
    # bytes_in / bytes_out are from the client's side: responses in,
    # request bodies out.
    out["http.bytes_in"] = sum(e["bytes_out"] for e in log)
    out["http.bytes_out"] = sum(e["bytes_in"] for e in log)
    out["emulator.busy_s"] = sum(e["busy_s"] for e in log)
    return out


def unexpected_calls(counts: dict[str, float], expected: dict[str, int]) -> list[str]:
    routes = {k for k in counts if k.startswith("http.calls.")}
    return [
        f"{k}={counts.get(k, 0)} (expected {expected.get(k, 0)})"
        for k in sorted(routes | set(expected))
        if counts.get(k, 0) != expected.get(k, 0)
    ]


# -- reference rules, restated -------------------------------------------


def _is_number(cell: str) -> bool:
    if not cell or cell.isspace():
        return False
    try:
        float(cell)
    except ValueError:
        return False
    return True


def typed_rows(grid: list[list[str]]) -> tuple[list[str], list[tuple]]:
    """Header names and typed data rows under the reference's inference:
    types from the first data row, blank -> NULL, short rows padded."""
    header, first = grid[0], grid[1]
    kinds = []
    for cell in first:
        if cell in ("TRUE", "FALSE"):
            kinds.append("bool")
        elif _is_number(cell):
            kinds.append("double")
        else:
            kinds.append("string")
    bools = {"true": True, "t": True, "1": True, "yes": True,
             "false": False, "f": False, "0": False, "no": False}

    def cast(cell, kind):
        if cell is None or cell == "":
            return None
        if kind == "bool":
            return bools.get(cell.strip().lower())
        if kind == "double":
            return float(cell) if _is_number(cell) else None
        return cell

    rows = [
        tuple(cast(row[i] if i < len(row) else None, kinds[i]) for i in range(len(header)))
        for row in grid[1:]
    ]
    return header, rows


def stringify(value) -> str:
    """A cell as the sheet stores it after a USER_ENTERED write."""
    if value is None:
        return ""
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    return str(value)


# -- sheet_scan ----------------------------------------------------------

SCAN_SQL = """
SELECT d.region AS region,
       count(*) AS n,
       count(f.amount) AS n_amount,
       sum(f.amount) AS amount,
       sum(f.qty * d.weight) AS weighted_qty,
       sum(CASE WHEN f.flag THEN 1 ELSE 0 END) AS n_flag,
       count(DISTINCT f.label) AS n_labels,
       max(f.score) AS max_score
FROM '{fact}' AS f JOIN '{dim}' AS d ON f.dim_key = d.key
GROUP BY d.region
"""


def make_fact(rng: random.Random, rows: int, blank_share: float, ragged_share: float):
    """8 columns: numbers, TRUE/FALSE and strings. Blanks fall only in
    the five middle columns, so trimming makes only the chosen ragged
    rows short; the first data row is complete."""
    grid = [["id", "dim_key", "amount", "qty", "flag", "label", "note", "score"]]
    blank_p = blank_share * 8 / 5
    for i in range(rows):
        row = [
            str(i + 1),
            str(rng.randrange(200)),
            str(rng.randrange(1, 10_000)),
            str(rng.randrange(1, 50)),
            rng.choice(("TRUE", "FALSE")),
            rng.choice(WORDS),
            " ".join(rng.choices(WORDS, k=rng.randrange(1, 6))),
            f"{rng.random() * 1000:.3f}",
        ]
        if i > 0:
            for c in range(2, 7):
                if rng.random() < blank_p:
                    row[c] = ""
            if rng.random() < ragged_share:
                row = row[: rng.randrange(3, 8)]
        grid.append(row)
    return grid


def make_dim(rng: random.Random, rows: int, groups: int):
    grid = [["key", "region", "weight"]]
    for k in range(rows):
        grid.append([str(k), f"region_{k % groups:02d}", str(rng.randrange(1, 6))])
    return grid


def scan_expected(fact_grid, dim_grid) -> dict[str, tuple]:
    _, fact = typed_rows(fact_grid)
    _, dim = typed_rows(dim_grid)
    by_key = {}
    for key, region, weight in dim:
        by_key.setdefault(key, []).append((region, weight))
    acc: dict[str, dict] = {}
    for _id, dim_key, amount, qty, flag, label, _note, score in fact:
        for region, weight in by_key.get(dim_key, ()):
            a = acc.setdefault(region, {"n": 0, "amount": [], "wq": [], "flag": 0,
                                        "labels": set(), "score": []})
            a["n"] += 1
            if amount is not None:
                a["amount"].append(amount)
            if qty is not None and weight is not None:
                a["wq"].append(qty * weight)
            a["flag"] += 1 if flag is True else 0
            if label is not None:
                a["labels"].add(label)
            if score is not None:
                a["score"].append(score)
    # Every summand is a whole number well below 2**53, so the sums are
    # exact in any order.
    return {
        region: (a["n"], len(a["amount"]), sum(a["amount"]) if a["amount"] else None,
                 sum(a["wq"]) if a["wq"] else None, a["flag"], len(a["labels"]),
                 max(a["score"]) if a["score"] else None)
        for region, a in acc.items()
    }


class SheetScan(Workload):
    """One ``sheets_sql`` statement joining a fact tab and a dim tab."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.cfg = ctx.manifest["workloads"]["sheet_scan"]
        self.sid = f"scan-{ctx.seed}"
        self.options = {"token": TOKEN, "api_base": ctx.emulator.api_base}

    def setup(self) -> None:
        cfg, rng = self.cfg, random.Random(self.ctx.seed)
        self.fact = make_fact(rng, cfg["fact_rows"], cfg["blank_share"], cfg["ragged_share"])
        self.dim = make_dim(rng, cfg["dim_rows"], cfg["dim_groups"])
        meta = self.ctx.emulator.load(self.sid, [("fact", self.fact), ("dimension", self.dim)])
        gids = {s["properties"]["title"]: s["properties"]["sheetId"] for s in meta["sheets"]}
        self.urls = {
            tab: f"{URL_PREFIX}{self.sid}/edit?gid={gids[title]}"
            for tab, title in (("fact", "fact"), ("dim", "dimension"))
        }
        self.sql = SCAN_SQL.format(**self.urls)
        self.cells = sum(len(r) for r in self.fact) + sum(len(r) for r in self.dim)

    def expected(self):
        expected = scan_expected(self.fact, self.dim)
        self.fact = self.dim = None  # only the emulator needs the grids now
        return expected

    def op(self, tracer) -> tuple[float, list]:
        t0 = time.perf_counter()
        with tracer.span("api.sheets_sql_s"):
            df = api.sheets_sql(self.ctx.spark, self.sql, **self.options)
        with tracer.span("datasource.scan_s"):
            rows = df.collect()
        return time.perf_counter() - t0, rows

    def check(self, rows, expected):
        counts = http_summary(self.ctx.emulator.drain_log())
        problems = unexpected_calls(counts, {"http.calls.metadata_get": 2,
                                             "http.calls.values_get": 2})
        got = {r["region"]: (r["n"], r["n_amount"], r["amount"], r["weighted_qty"],
                             r["n_flag"], r["n_labels"], r["max_score"]) for r in rows}
        if got != expected:
            diff = sorted(k for k in set(got) | set(expected) if got.get(k) != expected.get(k))
            problems.append(f"aggregate differs for {len(diff)} groups, e.g. "
                            f"{diff[:1]}: got {got.get(diff[0]) if diff else None} "
                            f"expected {expected.get(diff[0]) if diff else None}")
        return problems, counts

    @contextmanager
    def instrument(self, tracer):
        """Time each ``read_gsheet`` call ``sheets_sql`` makes, by tab."""
        original = api.read_gsheet
        tab_of = {url: tab for tab, url in self.urls.items()}

        def traced_read_gsheet(spark, url_or_id, **options):
            with tracer.span(f"datasource.bind_s.{tab_of.get(url_or_id, 'other')}"):
                return original(spark, url_or_id, **options)

        api.read_gsheet = traced_read_gsheet
        try:
            yield
        finally:
            api.read_gsheet = original

    def probe(self, tracer) -> dict[str, float]:
        """The layers the Spark worker runs, called in-process on the same
        fact tab: transport, client, inference and reader partitioning."""
        transport = RequestsTransport()
        client = GSheetsClient(transport, BearerTokenAuth(TOKEN), self.ctx.emulator.api_base)
        url = f"{client.base_url}/spreadsheets/{self.sid}/values/{url_encode('fact')}"
        with tracer.span("transport.get_s"):
            transport.get(url, client.headers())
        with tracer.span("client.values_get_s"):
            grid = client.values(self.sid).get("fact")
        with tracer.span("inference.infer_schema_s"):
            schema = infer_schema(grid.values, header=True, range_label="fact")
        with tracer.span("inference.cast_rows_s"):
            rows = cast_rows(grid.values, schema, header=True)
        blocks = GSheetsReader(rows).partitions()
        self.ctx.emulator.drain_log()
        return {
            "datasource.partitions": len(blocks),
            "datasource.partition_bytes": sum(len(cloudpickle.dumps(b)) for b in blocks),
        }

    def derived(self, layer: dict[str, float]) -> dict[str, float]:
        return {"datasource.plan_overhead_s": layer["datasource.bind_s.fact"] - (
            layer["client.values_get_s"] + layer["inference.infer_schema_s"]
            + layer["inference.cast_rows_s"])}


# -- sheet_publish -------------------------------------------------------

#: Not "out": GSheetsWriter parses a sheet option that also reads as an A1
#: column reference ("out" is column OUT) as a range on that sheet.
PUBLISH_SHEET = "output"
PUBLISH_SCHEMA = "id long, name string, value double, flag boolean, note string, day date"


def make_publish_rows(rng: random.Random, rows: int, null_share: float) -> list[tuple]:
    day0 = dt.date(2020, 1, 1)
    return [
        (
            i,
            rng.choice(WORDS) + "-" + str(rng.randrange(1000)),
            rng.randrange(-10_000_000, 10_000_000) / 1000,
            rng.random() < 0.5,
            None if rng.random() < null_share else " ".join(rng.choices(WORDS, k=3)),
            day0 + dt.timedelta(days=rng.randrange(3650)),
        )
        for i in range(rows)
    ]


class SheetPublish(Workload):
    """One overwrite ``write_gsheet`` of a cached frame to one tab."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.cfg = ctx.manifest["workloads"]["sheet_publish"]
        self.sid = f"publish-{ctx.seed}"
        self.url = f"{URL_PREFIX}{self.sid}/edit"
        self.options = {"token": TOKEN, "api_base": ctx.emulator.api_base, "sheet": PUBLISH_SHEET}

    def setup(self) -> None:
        spark, cfg = self.ctx.spark, self.cfg
        self.rows = make_publish_rows(random.Random(self.ctx.seed), cfg["rows"], cfg["null_share"])
        self.ctx.emulator.load(self.sid, [(PUBLISH_SHEET, [])])
        rdd = spark.sparkContext.parallelize(self.rows, self.ctx.nproc)
        self.df = spark.createDataFrame(rdd, PUBLISH_SCHEMA).cache()
        sizes = dict(self.df.groupBy(F.spark_partition_id()).count().collect())
        self.partition_rows = [sizes.get(p, 0) for p in range(self.df.rdd.getNumPartitions())]
        self.cells = (1 + len(self.rows)) * len(self.df.columns)

    def expected(self):
        # Partition order is the frame's row order: parallelize() slices
        # the list into contiguous runs, which this confirms.
        ids = [r[0] for r in self.df.select("id").collect()]
        if ids != [r[0] for r in self.rows]:
            raise RuntimeError("cached frame is not in generated row order")
        grid = [list(self.df.columns)]
        for row in self.rows:
            cells = [stringify(v) for v in row]
            while cells and cells[-1] == "":
                cells.pop()
            grid.append(cells)
        return grid

    def op(self, tracer) -> tuple[float, None]:
        t0 = time.perf_counter()
        with tracer.span("datasource.save_s"):
            api.write_gsheet(self.df, self.url, **self.options)
        return time.perf_counter() - t0, None

    def appends(self) -> int:
        return sum(math.ceil(n / BATCH_ROWS) for n in self.partition_rows)

    def check(self, _result, expected):
        counts = http_summary(self.ctx.emulator.drain_log())
        problems = unexpected_calls(counts, {
            "http.calls.metadata_get": 1, "http.calls.clear": 1,
            "http.calls.append": 1 + self.appends(),
        })
        grid = self.ctx.emulator.grid(self.sid, PUBLISH_SHEET)
        if grid != expected:
            bad = next((i for i, (a, b) in enumerate(zip(grid, expected)) if a != b),
                       min(len(grid), len(expected)))
            problems.append(f"sheet grid differs from row {bad} "
                            f"({len(grid)} rows, expected {len(expected)})")
        return problems, counts

    def probe(self, tracer) -> dict[str, float]:
        """The writer the Spark job runs, called in-process on the same
        rows: driver setup, per-partition stringify and commit."""
        options = {"path": self.url, **self.options}
        with tracer.span("writer.setup_s"):
            writer = GSheetsWriter(options, self.df.schema, True)
        messages, start, stringify_s = [], 0, []
        for n in self.partition_rows:
            with tracer.span("writer.stringify_partition") as span:
                msg = writer.write(iter(self.rows[start : start + n]))
            stringify_s.append(span.duration)
            messages.append(AppendResult(len(messages), msg.rows))
            start += n
        with tracer.span("writer.commit_s"):
            writer.commit(messages)
        self.ctx.emulator.drain_log()
        return {
            "writer.stringify_s": statistics.median(stringify_s),
            "writer.commit_message_bytes": sum(len(cloudpickle.dumps(m)) for m in messages),
        }

    def derived(self, layer: dict[str, float]) -> dict[str, float]:
        data_appends = layer["http.calls.append"] - 1  # less the header
        return {"writer.append_fill": len(self.rows) / (data_appends * BATCH_ROWS)}

