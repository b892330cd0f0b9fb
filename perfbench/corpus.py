"""The corpus_ops workload: passes over eight registry queries.

The parquet tables are drawn from ``sf01_profile.json``, the profile
``profile_data.py`` measured on the repository's sf0.1 test data: row
counts, key patterns, value shares, quantiles, the documents' vocabulary,
length and near-duplicate structure (another document's text plus a
trailing ``dup``; no e-mail, phone, IP, digit or punctuation matches)
and the embeddings' isotropic, unit-norm vectors with labels independent
of them. The tables use a fixed generator seed, so the corpus is the
same in every run, as the sf0.1 directory is; ``--seed`` picks the query
order of each pass.

The first run in a checkout builds the corpus in a child process: it
generates the tables, checks them against the profile and evaluates
each query's DuckDB oracle, and keeps all of it under
``.perfbench/cache``. Later runs reuse it. Each query follows
``bench.py``'s rules: the builder runs inside the clock, results go to a
``noop`` sink and the session-scoped plan memos are cleared before each
query.

    python3 perfbench/corpus.py build <directory>   # what the first run does
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from duckdb_gsheets_spark.operators import all_queries, clear_plan_caches
from workload import Workload

HERE = Path(__file__).resolve().parent
PROFILE = HERE / "sf01_profile.json"
DAY_US = 86_400_000_000
DUP_TOKEN = "dup"


def _parse(value: str, kind: str):
    if kind.startswith("int"):
        return int(value)
    if kind == "double":
        return float(value)
    return value


def _column(rng: np.random.Generator, prof: dict, n: int) -> pa.Array:
    """``n`` values drawn from one column's profile."""
    kind = prof["type"]
    arrow_type = pa.timestamp("us") if kind == "timestamp[us]" else pa.type_for_alias(kind)
    if "index" in prof:
        if "prefix" in prof["index"]:
            prefix, width = prof["index"]["prefix"], prof["index"]["width"]
            return pa.array([f"{prefix}{i:0{width}d}" for i in range(n)], arrow_type)
        return pa.array(np.arange(n), arrow_type)
    if "shares" in prof:
        # Each value as often as its share says (largest remainders
        # rounded up), in random order: small tables keep exact shares.
        values = [_parse(v, kind) for v in prof["shares"]]
        want = np.array(list(prof["shares"].values())) * n
        counts = np.floor(want).astype(np.int64)
        counts[np.argsort(counts - want)[: n - counts.sum()]] += 1
        picks = rng.permutation(np.repeat(np.arange(len(values)), counts))
        return pa.array([values[i] for i in picks], arrow_type)
    if "min_us" in prof:
        if prof["midnight_only"]:
            us = rng.integers(prof["min_us"] // DAY_US, prof["max_us"] // DAY_US + 1, n) * DAY_US
        else:
            us = rng.integers(prof["min_us"], prof["max_us"] + 1, n)
        return pa.array(np.sort(us) if prof["sorted"] else us, arrow_type)
    q = np.asarray(prof["quantiles"])
    values = np.round(np.interp(rng.random(n) * (len(q) - 1), np.arange(len(q)), q), prof["decimals"])
    return pa.array(values.astype(np.int64) if kind.startswith("int") else values, arrow_type)


def _texts(rng: np.random.Generator, prof: dict, n: int) -> list[str]:
    """Documents over the measured vocabulary and word counts; the
    measured share of them become another document's text plus ``dup``."""
    vocab = list(prof["vocabulary"])
    p = np.array(list(prof["vocabulary"].values()), dtype=np.float64)
    lengths = np.array([int(k) for k in prof["words_per_doc"]])
    length_p = np.array(list(prof["words_per_doc"].values()), dtype=np.float64)
    texts = [" ".join(vocab[i] for i in rng.choice(len(vocab), k, p=p / p.sum()))
             for k in rng.choice(lengths, n, p=length_p / length_p.sum())]
    for i in rng.choice(n, round(prof["near_duplicate_share"] * n), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = f"{texts[j + (j >= i)]} {DUP_TOKEN}"
    return texts


def _vectors(rng: np.random.Generator, prof: dict, n: int) -> pa.Array:
    vecs = rng.normal(size=(n, prof["dim"]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * prof["norm_mean"]).astype(np.float32)
    return pa.array(list(vecs), pa.list_(pa.float32()))


def generate(out_dir: str, seed: int, profile: dict) -> dict[str, int]:
    """Write every table of ``profile`` as parquet; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in profile["tables"].items():
        n, cols = table["rows"], {}
        for col, prof in table["columns"].items():
            if name == "documents" and col == "text":
                cols[col] = pa.array(_texts(rng, prof, n))
            elif name == "documents" and col == "n_chars":
                cols[col] = pa.array([len(t) for t in cols["text"].to_pylist()], pa.int64())
            elif name == "embeddings" and col == "embedding":
                cols[col] = _vectors(rng, prof, n)
            else:
                cols[col] = _column(rng, prof, n)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = n
    return rows


def build(cache_dir: str, seed: int, names: list[str]) -> None:
    """Generate the corpus, check it against the profile and store each
    query's DuckDB oracle result; the directory appears only when done."""
    import duckdb

    from profile_data import compare, profile

    measured = json.loads(PROFILE.read_text())
    tmp = f"{cache_dir}.tmp-{os.getpid()}"
    data = os.path.join(tmp, "data")
    rows = generate(data, seed, measured)
    problems = compare(profile(data), measured)
    if problems:
        raise SystemExit("generated corpus departs from the measured profile:\n  " + "\n  ".join(problems))
    queries = all_queries()
    oracles = {}
    with duckdb.connect() as con:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for table in rows:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(data, table)}.parquet'")
        for name in names:
            sql = queries[name].oracle
            oracles[name] = None if sql is None else con.execute(sql).df()
    with open(os.path.join(tmp, "oracles.pkl"), "wb") as fh:
        pickle.dump(oracles, fh)
    try:
        os.rename(tmp, cache_dir)
    except OSError:  # built meanwhile by another run
        shutil.rmtree(tmp, ignore_errors=True)


class CorpusOps(Workload):
    """One operation is one pass over the manifest's queries, in an order
    drawn from the seed."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.cfg = ctx.manifest["workloads"]["corpus_ops"]
        self.names = list(self.cfg["queries"])
        self.queries = all_queries()
        self.order_rng = random.Random(ctx.seed)
        key = hashlib.sha256()
        for part in (PROFILE.read_bytes(), Path(__file__).read_bytes(), (HERE / "profile_data.py").read_bytes(),
                     json.dumps(self.cfg, sort_keys=True).encode(),
                     *(str(self.queries[n].oracle).encode() for n in self.names)):
            key.update(part)
        self.cache_dir = os.path.join(ctx.cache, f"corpus-{key.hexdigest()[:16]}")
        self.data_dir = os.path.join(self.cache_dir, "data")

    def prepare(self) -> float:
        """Build the corpus unless the checkout has it; returns the seconds
        spent, which are build time, not set-up time."""
        if os.path.isdir(self.cache_dir):
            return 0.0
        t0 = time.perf_counter()
        os.makedirs(self.ctx.cache, exist_ok=True)
        subprocess.run([sys.executable, __file__, "build", self.cache_dir], check=True)
        return time.perf_counter() - t0

    def expected(self):
        with open(os.path.join(self.cache_dir, "oracles.pkl"), "rb") as fh:
            return pickle.load(fh)

    def _pass_order(self) -> list[str]:
        order = list(self.names)
        self.order_rng.shuffle(order)
        return order

    def _collect_garbage(self) -> None:
        """Once before each pass, outside the clock: every pass starts on
        a clean heap. Once per query cost about 3 s a pass, which a run's
        time budget cannot spare."""
        gc.collect()
        self.ctx.spark.sparkContext._jvm.System.gc()

    def _run(self, name: str, tracer, sink):
        clear_plan_caches()
        t0 = time.perf_counter()
        with tracer.span(f"query.{name}.build_s"):
            df = self.queries[name].spark_fn(self.ctx.spark, self.data_dir)
        with tracer.span(f"query.{name}.exec_s"):
            out = sink(df)
        return time.perf_counter() - t0, out

    def op(self, tracer) -> tuple[float, None]:
        """Returns the summed query time; garbage collection before the
        pass and memo clearing between queries stay outside it."""
        self._collect_garbage()
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        return sum(self._run(n, tracer, noop)[0] for n in self._pass_order()), None

    def warm_up(self, tracer, expected) -> tuple[float, list[str]]:
        """The run's first pass, collected to pandas and compared with each
        query's DuckDB oracle under ``tools/parity.py``'s rules. Returns
        the seconds spent comparing, and the problems. It runs the queries
        in the manifest's order: the first timed pass still runs on a
        warming JVM, and a warm-up in the seed's order would make its time
        depend on the seed."""
        from tools.parity import _dtype_map, _frame_to_multiset

        compare_s, problems = 0.0, []
        self._collect_garbage()
        for name in self.names:
            _, spark_pdf = self._run(name, tracer, lambda df: df.toPandas())
            t0 = time.perf_counter()
            duck_pdf = expected[name]
            if duck_pdf is None:
                if spark_pdf.empty:
                    problems.append(f"{name}: no rows")
            elif sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
                problems.append(f"{name}: columns differ")
            elif _dtype_map(spark_pdf) != _dtype_map(duck_pdf):
                problems.append(f"{name}: dtypes differ")
            elif _frame_to_multiset(spark_pdf) != _frame_to_multiset(duck_pdf):
                problems.append(f"{name}: values differ")
            compare_s += time.perf_counter() - t0
        return compare_s, problems


def main(argv: list[str]) -> int:
    if len(argv) != 2 or argv[0] != "build":
        print(__doc__.rsplit("\n\n", 1)[-1], file=sys.stderr)
        return 2
    manifest = json.loads((HERE / "manifest.json").read_text())["workloads"]["corpus_ops"]
    build(argv[1], manifest["data_seed"], manifest["queries"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
