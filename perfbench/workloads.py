"""Seeded inputs, expected outputs, DAG triggers and output checks for the
three benchmark workloads.

Every expectation is computed in plain Python while the input is written,
from the reference's cell rules (``int()``, ``float()`` and ``strptime``
over four formats, first match wins) and from an independent model of the
curation stages. The engine only ever sees the generated files.

Inputs are cached per seed under ``<cache>/<workload>/seed<seed>/`` and
are built outside the timed region.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import math
import os
import random
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from etl_workflows_spark.orchestrate.curation_services import (
    CURATION_WORKFLOW_YAML,
    build_curation_registry,
)
from etl_workflows_spark.orchestrate.workflow import (
    WorkflowRunner,
    build_engine_registry,
)
from etl_workflows_spark.sinks import snapshots

# -- the cars wire format ---------------------------------------------------

# The reference's cars schema plus one TIMESTAMP column, so every coercion
# branch (INTEGER, FLOAT, TIMESTAMP, STRING) runs on the hot path.
CARS_FIELDS = [
    ("NAME", "STRING"),
    ("MPG", "FLOAT"),
    ("CYLINDERS", "INTEGER"),
    ("DISPLACEMENT", "FLOAT"),
    ("HORSEPOWER", "FLOAT"),
    ("WEIGHT", "FLOAT"),
    ("ACCELERATION", "FLOAT"),
    ("MODEL", "INTEGER"),
    ("ORIGIN", "STRING"),
    ("SOLD_AT", "TIMESTAMP"),
]
_COL = {name: i for i, (name, _) in enumerate(CARS_FIELDS)}
ENCODING = "ISO-8859-1"
STRPTIME_FORMATS = ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%d/%m/%Y", "%Y%m%d")

CARS_SCHEMA_YAML = "fields:\n" + "".join(
    f"  - name: {name}\n    type: {typ}\n    mode: NULLABLE\n"
    for name, typ in CARS_FIELDS
)

# etl_cars-shaped DAG: guarded load_csv (the "CSV file not found" branch
# ends the run), then an appending query and an overwriting summary query.
ETL_DAG_YAML = """
main:
  params: [bucket, dataset, destination, appendQuery, appendTable, summaryQuery, summaryTable]
  steps:
    - loadCsv:
        call: loadCsvStep
        args:
          body:
            bucket: ${bucket}
            prefix: cars_
            schema: cars_schema.yaml
            destinationTable: ${dataset + "." + destination}
        result: loadResult
    - afterLoad:
        switch:
          - condition: ${loadResult != "Success"}
            return: ${loadResult}
    - appendQuery:
        call: http.post
        args:
          url: https://functions.local/load_query
          body:
            query: ${appendQuery}
            destinationTable: ${dataset + "." + appendTable}
            append: true
        result: appended
    - summaryQuery:
        call: http.post
        args:
          url: https://functions.local/load_query
          body:
            query: ${summaryQuery}
            destinationTable: ${dataset + "." + summaryTable}
            append: false
        result: summarized
    - done:
        return: ${summarized.body.description}

loadCsvStep:
  params: [body]
  steps:
    - runJob:
        try:
          call: http.post
          args:
            url: https://functions.local/load_csv
            body: ${body}
          result: r
        except:
          as: e
          steps:
            - known:
                switch:
                  - condition: ${e.body.description == "CSV file not found"}
                    return: "Not found"
            - unknown:
                raise: ${e}
    - out:
        return: ${r.body.description}
"""

_MAKES = ("chevrolet", "ford", "plymouth", "amc", "dodge", "toyota",
          "datsun", "volkswagen", "peugeot", "honda", "buick", "mazda")
_TRIMS = ("malibu", "torino", "fury", "rebel", "custom", "corona",
          "pickup", "rabbit", "wagon", "civic", "skylark", "glc")
_ORIGINS = ("US", "Europe", "Japan")
BAD_ARITY = 0.01  # share of rows with one field too few or too many
DIRTY_SHARE = 0.03  # share of dirty cells per typed column
# Dirty spellings per column type. ``inf`` only goes into columns no
# query sums, so an expected sum never turns into inf - inf.
_DIRTY = {
    "INTEGER": ("", "NA", "12.5", " {v} ", "{v} "),
    "FLOAT": ("", "NA", " {v} ", "{v}  "),
    "FLOAT_INF": ("", "NA", "inf", "-Infinity", " {v} "),
    "TIMESTAMP": ("", "NA", "not a date"),
}
_INF_COLUMNS = {"HORSEPOWER", "ACCELERATION"}


def py_coerce(raw: str, typ: str):
    """The reference's cell rule: the Python parse or None. TIMESTAMP
    cells become UTC epoch seconds."""
    try:
        if typ == "INTEGER":
            return int(raw)
        if typ == "FLOAT":
            return float(raw)
    except ValueError:
        return None
    if typ == "TIMESTAMP":
        for fmt in STRPTIME_FORMATS:
            try:
                return calendar.timegm(time.strptime(raw, fmt))
            except ValueError:
                pass
        return None
    return raw


def _timestamp_text(rng: random.Random) -> str:
    t = dt.datetime(2021, 1, 1) + dt.timedelta(seconds=rng.randrange(365 * 86400))
    form = rng.randrange(5)
    if form == 0:
        return t.strftime("%Y-%m-%d %H:%M:%S")
    if form == 1:  # strptime and Spark both accept unpadded fields
        return f"{t.year}-{t.month}-{t.day} {t.hour}:{t.minute}:{t.second}"
    if form == 2:
        return t.strftime("%Y-%m-%d")
    if form == 3:  # day-first
        return f"{t.day}/{t.month}/{t.year}"
    return t.strftime("%Y%m%d")


def _clean_cells(rng: random.Random) -> list[str]:
    return [
        f"{rng.choice(_MAKES)} {rng.choice(_TRIMS)} {rng.randrange(1000)}",
        f"{rng.uniform(9, 47):.1f}",
        str(rng.choice((3, 4, 5, 6, 8))),
        f"{rng.uniform(68, 455):.1f}",
        f"{rng.uniform(46, 230):.1f}",
        f"{rng.uniform(1600, 5200):.1f}",
        f"{rng.uniform(8, 25):.1f}",
        str(rng.randint(70, 82)),
        rng.choice(_ORIGINS),
        _timestamp_text(rng),
    ]


class TableExpectation:
    """Row count, per-column NULL / non-finite counts and sums of a cars
    table, plus the (ORIGIN, MODEL) groups and the big_US_cars count."""

    def __init__(self):
        n = len(CARS_FIELDS)
        self.rows = 0
        self.nulls = [0] * n
        self.nonfinite = [0] * n
        self.sums = [0] * n
        self.groups: dict[tuple, list] = {}
        self.big_us = 0

    def add(self, values: list) -> None:
        self.rows += 1
        for i, v in enumerate(values):
            if v is None:
                self.nulls[i] += 1
            elif isinstance(v, float) and not math.isfinite(v):
                self.nonfinite[i] += 1
            elif not isinstance(v, str):
                self.sums[i] += v
        origin, model, weight = (values[_COL[c]] for c in ("ORIGIN", "MODEL", "WEIGHT"))
        g = self.groups.setdefault((origin, model), [0, 0.0, 0])
        g[0] += 1
        if weight is not None:
            g[1] += weight
            g[2] += 1
        if origin == "US" and weight is not None and weight > 4500:
            self.big_us += 1

    def to_json(self) -> dict:
        return {
            "rows": self.rows,
            "nulls": self.nulls,
            "nonfinite": self.nonfinite,
            "sums": self.sums,
            "groups": [
                [o, m, g[0], g[1] if g[2] else None]
                for (o, m), g in sorted(self.groups.items(), key=repr)
            ],
            "big_us": self.big_us,
        }


def write_cars_csv(path: str, rng: random.Random, n_rows: int) -> dict:
    """Write a ``;``-delimited ISO-8859-1 cars CSV with a header, about
    ``BAD_ARITY`` wrong-arity rows and ``DIRTY_SHARE`` dirty cells; return the
    expectation of the table ``load_csv`` must build from it."""
    exp = TableExpectation()
    memo: dict[tuple, object] = {}
    types = [t for _, t in CARS_FIELDS]
    dirty_kind = [
        "FLOAT_INF" if name in _INF_COLUMNS else typ
        for name, typ in CARS_FIELDS
    ]
    lines = [";".join(name for name, _ in CARS_FIELDS)]
    for _ in range(n_rows):
        cells = _clean_cells(rng)
        for i, kind in enumerate(dirty_kind):
            if kind != "STRING" and rng.random() < DIRTY_SHARE:
                cells[i] = rng.choice(_DIRTY[kind]).format(v=cells[i])
        r = rng.random()
        if r < BAD_ARITY / 2:
            cells.pop(rng.randrange(len(cells)))
        elif r < BAD_ARITY:
            cells.append("extra")
        else:
            values = []
            for cell, typ in zip(cells, types):
                if typ == "STRING":
                    values.append(cell)
                    continue
                key = (typ, cell)
                if key not in memo:
                    memo[key] = py_coerce(cell, typ)
                values.append(memo[key])
            exp.add(values)
        lines.append(";".join(cells))
    with open(path, "w", encoding=ENCODING, newline="") as f:
        f.write("\n".join(lines) + "\n")
    return exp.to_json()


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def check_cars_table(spark, table: str, exp: dict) -> list[str]:
    """Compare the committed files of a loaded cars table with its
    expectation; return the mismatches (empty when correct)."""
    got = read_table(spark, table)
    bad = []
    if got.num_rows != exp["rows"]:
        bad.append(f"{table}: rows {got.num_rows} != {exp['rows']}")
    for i, (name, typ) in enumerate(CARS_FIELDS):
        col = got.column(name)
        if col.null_count != exp["nulls"][i]:
            bad.append(f"{table}.{name}: nulls {col.null_count} != {exp['nulls'][i]}")
        if typ == "FLOAT":
            inf = pc.is_inf(col)
            n_inf = pc.sum(pc.cast(inf, pa.int64())).as_py() or 0
            if n_inf != exp["nonfinite"][i]:
                bad.append(f"{table}.{name}: inf cells {n_inf} != {exp['nonfinite'][i]}")
            col = pc.filter(col, pc.invert(inf))
        elif typ == "TIMESTAMP":
            per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[col.type.unit]
            col = pc.divide(pc.cast(col, pa.int64()), per_s)
        if typ != "STRING":
            total = pc.sum(col).as_py() or 0
            if not _close(total, exp["sums"][i]):
                bad.append(f"{table}.{name}: sum {total} != {exp['sums'][i]}")
    return bad


def table_dir(spark, table: str) -> str:
    """Directory of managed table ``db.table`` under the session's
    warehouse (Spark lower-cases table names)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    db, name = table.split(".")[-2:]
    return os.path.join(warehouse, f"{db}.db", name.lower())


def read_table(spark, table: str) -> pa.Table:
    """The committed parquet files of managed table ``db.table``, read with
    pyarrow, so that checking an output runs no Spark job."""
    return ds.dataset(table_dir(spark, table), format="parquet").to_table()


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# -- workloads ----------------------------------------------------------------


class Workload:
    """One workload bound to one session, warehouse database and run dir.

    Per iteration ``i`` the benchmark calls ``land(i)`` (untimed: put the
    input where the DAG expects it), ``trigger(i)`` (timed: one DAG run),
    then ``check(i)`` (untimed: compare every output with the expectation
    computed while the input was written).
    """

    name = ""
    default_size = 0
    # input size of the one small DAG run that ends set-up
    small_size = 0

    def __init__(self, spark, run_dir: str, db: str, seed: int,
                 cache_dir: str, size: int | None = None):
        self.spark = spark
        self.run_dir = run_dir
        self.db = db
        self.seed = seed
        self.cache_dir = cache_dir
        self.size = size or self.default_size
        self.generate_s = 0.0
        os.makedirs(run_dir, exist_ok=True)

    def _rng(self, *key) -> random.Random:
        return random.Random(repr((self.name, self.seed, self.size) + key))

    def _cached(self, name: str, build) -> dict:
        """Return the expectation of input ``name`` in the cache, building
        the input first if absent (time kept in ``generate_s``).
        ``build(path)`` writes the input at path and returns its
        expectation; the pair is published by renames, so a half-written
        input is never reused."""
        exp_path = os.path.join(self.cache_dir, name + ".expect.json")
        if not os.path.exists(exp_path):
            t = time.perf_counter()
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = os.path.join(self.cache_dir, f".{name}.{os.getpid()}")
            exp = build(tmp)
            os.replace(tmp, os.path.join(self.cache_dir, name))
            with open(exp_path + ".tmp", "w") as f:
                json.dump(exp, f)
            os.replace(exp_path + ".tmp", exp_path)
            self.generate_s += time.perf_counter() - t
        with open(exp_path) as f:
            return json.load(f)

    def stored_bytes(self) -> int:
        """Bytes under every destination table and snapshot directory."""
        raise NotImplementedError


class _CsvWorkload(Workload):
    """Shared plumbing of the two CSV workloads: assets, bucket, the engine
    registry and the etl_cars-shaped DAG."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.assets = os.path.join(self.run_dir, "assets")
        self.bucket = os.path.join(self.run_dir, "bucket")
        os.makedirs(self.assets, exist_ok=True)
        os.makedirs(self.bucket, exist_ok=True)
        with open(os.path.join(self.assets, "cars_schema.yaml"), "w") as f:
            f.write(CARS_SCHEMA_YAML)
        self.registry = build_engine_registry(self.spark, self.assets)
        self.runner = WorkflowRunner(ETL_DAG_YAML, self.registry)
        self._lines: dict[str, int] = {}

    def _write_asset(self, name: str, text: str) -> None:
        with open(os.path.join(self.assets, name), "w") as f:
            f.write(text)

    def _land_file(self, name: str) -> tuple[int, int]:
        """Hard-link a cached input into the bucket; return its data lines
        (header excluded) and bytes."""
        src = os.path.join(self.cache_dir, name)
        dst = os.path.join(self.bucket, name)
        if os.path.exists(dst):
            os.remove(dst)
        os.link(src, dst)
        if name not in self._lines:
            with open(src, "rb") as f:
                self._lines[name] = sum(1 for _ in f) - 1
        return self._lines[name], os.path.getsize(src)

    def _tables_bytes(self, tables) -> int:
        return sum(_dir_bytes(table_dir(self.spark, f"{self.db}.{t}")) for t in tables)

    def _check_groups(self, table: str, exp: dict) -> list[str]:
        got = {
            (r["ORIGIN"], r["MODEL"]): (r["n_cars"], r["weight_sum"], r["rank_in_origin"])
            for r in read_table(self.spark, f"{self.db}.{table}").to_pylist()
        }
        groups = {(o, m): (n, w) for o, m, n, w in exp["groups"]}
        if set(got) != set(groups):
            return [f"{table}: groups differ"]
        bad = []
        for key, (n, w) in groups.items():
            # RANK() semantics: 1 + number of groups of the same origin
            # with a strictly larger count
            rank = 1 + sum(
                1 for (o, _), (n2, _) in groups.items() if o == key[0] and n2 > n
            )
            if got[key][0] != n or not _close(got[key][1], w) or got[key][2] != rank:
                bad.append(f"{table}{key}: {got[key]} != {(n, w, rank)}")
        return bad


SUMMARY_SQL = """SELECT ORIGIN, MODEL, COUNT(*) AS n_cars, SUM(WEIGHT) AS weight_sum,
       RANK() OVER (PARTITION BY ORIGIN ORDER BY COUNT(*) DESC) AS rank_in_origin
FROM {db}.{table}
GROUP BY ORIGIN, MODEL
"""


class BulkCsv(_CsvWorkload):
    """One large dirty CSV, reloaded by every DAG run."""

    name = "etl_bulk_csv"
    default_size = 40_000
    small_size = 2_000
    file_name = "cars_bulk.csv"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._write_asset(
            "big_US_cars.sql",
            f"SELECT * FROM {self.db}.cars WHERE ORIGIN = 'US' AND WEIGHT > 4500\n",
        )
        self._write_asset("cars_summary.sql", SUMMARY_SQL.format(db=self.db, table="cars"))
        self.expect = self._cached(
            self.file_name, lambda p: write_cars_csv(p, self._rng(), self.size))
        self.runs_done = 0

    def land(self, i: int) -> tuple[int, int]:
        return self._land_file(self.file_name)

    def trigger(self, i: int) -> str:
        return self.runner.run(params={
            "bucket": self.bucket, "dataset": self.db, "destination": "cars",
            "appendQuery": "big_US_cars.sql", "appendTable": "big_US_cars",
            "summaryQuery": "cars_summary.sql", "summaryTable": "cars_summary",
        })

    def expected_result(self, i: int) -> str:
        return "Success"

    def check(self, i: int) -> list[str]:
        self.runs_done += 1
        bad = check_cars_table(self.spark, f"{self.db}.cars", self.expect)
        n_big = read_table(self.spark, f"{self.db}.big_US_cars").num_rows
        if n_big != self.expect["big_us"] * self.runs_done:
            bad.append(f"big_US_cars: {n_big} != {self.expect['big_us']} x {self.runs_done}")
        if os.path.exists(os.path.join(self.bucket, self.file_name)):
            bad.append("input not archived")
        return bad + self._check_groups("cars_summary", self.expect)

    def stored_bytes(self) -> int:
        return self._tables_bytes(["cars", "big_US_cars", "cars_summary"])


class DailySmall(_CsvWorkload):
    """A series of ~400-row daily files; some days land none."""

    name = "etl_daily_small"
    default_size = 400
    small_size = 60
    missing_share = 0.15
    first_day = dt.date(2021, 1, 1)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._write_asset("daily_summary.sql", SUMMARY_SQL.format(db=self.db, table="cars_all"))
        self.total_rows = 0
        self.total_groups: dict[tuple, list] = {}
        self.loaded_days: list[str] = []

    def _day(self, i: int) -> str:
        return (self.first_day + dt.timedelta(days=i)).strftime("%Y%m%d")

    def has_file(self, i: int) -> bool:
        return i == 0 or self._rng("gap", i).random() >= self.missing_share

    def _day_expect(self, i: int) -> dict:
        rng = self._rng("day", i)
        n = rng.randint(self.size * 9 // 10, self.size * 11 // 10)
        return self._cached(f"cars_{self._day(i)}.csv",
                            lambda p: write_cars_csv(p, rng, n))

    def land(self, i: int) -> tuple[int, int]:
        day = self._day(i)
        self._write_asset(f"append_{day}.sql", f"SELECT * FROM {self.db}.cars_{day}\n")
        if not self.has_file(i):
            return 0, 0
        self._day_expect(i)
        return self._land_file(f"cars_{day}.csv")

    def trigger(self, i: int) -> str:
        return self.runner.run(params={
            "bucket": self.bucket, "dataset": self.db, "destination": "cars_{5:13}",
            "appendQuery": f"append_{self._day(i)}.sql", "appendTable": "cars_all",
            "summaryQuery": "daily_summary.sql", "summaryTable": "cars_daily_summary",
        })

    def expected_result(self, i: int) -> str:
        return "Success" if self.has_file(i) else "Not found"

    def check(self, i: int) -> list[str]:
        day = self._day(i)
        table = f"{self.db}.cars_{day}"
        if not self.has_file(i):
            exists = self.spark.catalog.tableExists(table)
            return [f"{table} created on a day without a file"] if exists else []
        exp = self._day_expect(i)
        self.loaded_days.append(day)
        self.total_rows += exp["rows"]
        for o, m, n, w in exp["groups"]:
            g = self.total_groups.setdefault((o, m), [0, 0.0, 0])
            g[0] += n
            if w is not None:
                g[1] += w
                g[2] += 1
        bad = check_cars_table(self.spark, table, exp)
        n_all = read_table(self.spark, f"{self.db}.cars_all").num_rows
        if n_all != self.total_rows:
            bad.append(f"cars_all: {n_all} != {self.total_rows}")
        groups = {
            "groups": [[o, m, g[0], g[1] if g[2] else None]
                       for (o, m), g in self.total_groups.items()]
        }
        return bad + self._check_groups("cars_daily_summary", groups)

    def stored_bytes(self) -> int:
        tables = [f"cars_{d}" for d in self.loaded_days]
        return self._tables_bytes(tables + ["cars_all", "cars_daily_summary"])


# -- curation -------------------------------------------------------------------

STOPWORDS = ("a", "the", "of", "to", "and")
GATE_KWARGS = {
    "min_tokens": 10,
    "max_tokens": 100_000,
    "token_len_range": (2.0, 12.0),
    "min_stop_ratio": 0.01,
    "min_uniq_ratio": 0.2,
}
NGRAM = 5  # decontaminate()'s default n and threshold
CONTAMINATION_THRESHOLD = 0.5
MIN_YIELD = 0.5


def _words(rng: random.Random, n: int, letters: str, prefix: str = "") -> list[str]:
    out = set()
    while len(out) < n:
        out.add(prefix + "".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(out)


# Corpus words never contain "q"; benchmark words all start with it, so a
# corpus document shares an n-gram with the benchmark only if planted.
CORPUS_VOCAB = _words(random.Random(7), 800, "abcdefghijklmnoprstuvwy")
BENCH_VOCAB = _words(random.Random(8), 300, "abcdefghijklmnoprstuvwy", prefix="q")


def expected_survivors(docs: list[tuple[int, str]], bench_texts: list[str]) -> set[int]:
    """Independent model of the curation stages: exact dedup keeps the
    smallest doc_id per text, then the Gopher-style gate, then 5-gram
    decontamination against the benchmark texts."""
    keeper: dict[str, int] = {}
    for doc_id, text in docs:
        if text not in keeper or doc_id < keeper[text]:
            keeper[text] = doc_id
    bench_grams = set()
    for t in bench_texts:
        toks = t.split(" ")
        bench_grams.update(" ".join(toks[j:j + NGRAM]) for j in range(len(toks) - NGRAM + 1))
    lo, hi = GATE_KWARGS["token_len_range"]
    out = set()
    for text, doc_id in keeper.items():
        toks = text.split(" ")
        n = len(toks)
        mean_len = (len(text) - (n - 1)) / n
        if not (GATE_KWARGS["min_tokens"] <= n <= GATE_KWARGS["max_tokens"]
                and lo <= mean_len <= hi
                and sum(t in STOPWORDS for t in toks) / n >= GATE_KWARGS["min_stop_ratio"]
                and len(set(toks)) / n >= GATE_KWARGS["min_uniq_ratio"]):
            continue
        if n >= NGRAM:
            grams = {" ".join(toks[j:j + NGRAM]) for j in range(n - NGRAM + 1)}
            if len(grams & bench_grams) / len(grams) >= CONTAMINATION_THRESHOLD:
                continue
        out.add(doc_id)
    return out


def _write_docs(path: str, rows: list[tuple[int, str]]) -> None:
    import pyarrow.parquet as pq

    # plain and uncompressed, so that the file size (the denominator of
    # stored_bytes_per_input_byte) follows the size of the text: with
    # compression it would also follow where the planted duplicates fall
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
    }), path, use_dictionary=False, compression="none")


class CurationWap(Workload):
    """The shipped curation DAG over successive document batches."""

    name = "curation_wap"
    default_size = 2_000
    small_size = 300
    batch_id_stride = 10_000_000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.corpus = os.path.join(self.run_dir, "corpus")
        bench = self._cached("benchmark.parquet", self._write_benchmark)
        self.bench_texts = bench["texts"]
        self.registry = build_curation_registry(
            self.spark, self.corpus,
            benchmark_path=os.path.join(self.cache_dir, "benchmark.parquet"),
            min_yield=MIN_YIELD, gate_kwargs=GATE_KWARGS,
        )
        self.runner = WorkflowRunner(CURATION_WORKFLOW_YAML, self.registry)
        self.published = 0

    def _write_benchmark(self, path: str) -> dict:
        rng = self._rng("benchmark")
        texts = [" ".join(rng.choice(BENCH_VOCAB) for _ in range(rng.randint(20, 30)))
                 for _ in range(40)]
        _write_docs(path, [(i, t) for i, t in enumerate(texts)])
        return {"texts": texts}

    def _normal_text(self, rng: random.Random, lo: int, hi: int) -> str:
        return " ".join(
            rng.choice(STOPWORDS) if rng.random() < 0.12 else rng.choice(CORPUS_VOCAB)
            for _ in range(rng.randint(lo, hi))
        )

    def _write_batch(self, path: str, i: int) -> dict:
        """Plant exact duplicates, short documents, benchmark copies and
        e-mails/phones into an otherwise clean batch."""
        rng = self._rng("batch", i)
        base = (i + 1) * self.batch_id_stride
        docs: list[tuple[int, str]] = []
        pii: dict[int, list[str]] = {}
        for k in range(self.size):
            doc_id = base + k
            r = rng.random()
            if r < 0.05 and docs:
                j = rng.randrange(len(docs))
                text = docs[j][1]
                if docs[j][0] in pii:
                    pii[doc_id] = pii[docs[j][0]]
            elif r < 0.10:
                text = self._normal_text(rng, 3, 8)
            elif r < 0.13:
                text = rng.choice(self.bench_texts) + " " + self._normal_text(rng, 2, 4)
            elif r < 0.23:
                toks = self._normal_text(rng, 25, 70).split(" ")
                planted = [
                    f"{rng.choice(CORPUS_VOCAB)}{rng.randrange(100)}@mail.example.com",
                    f"{rng.randrange(200, 999)}-{rng.randrange(100, 999)}-{rng.randrange(10000):04d}",
                ][: rng.randint(1, 2)]
                for p in planted:
                    toks.insert(rng.randrange(len(toks) + 1), p)
                text = " ".join(toks)
                pii[doc_id] = planted
            else:
                text = self._normal_text(rng, 25, 70)
            docs.append((doc_id, text))
        _write_docs(path, docs)
        survivors = expected_survivors(docs, self.bench_texts)
        return {
            "base": base,
            "rows": len(docs),
            "survivors": sorted(survivors),
            "pii": {str(d): p for d, p in pii.items() if d in survivors},
        }

    def _batch(self, i: int) -> tuple[str, dict]:
        name = f"batch_{i:05d}.parquet"
        exp = self._cached(name, lambda p: self._write_batch(p, i))
        return os.path.join(self.cache_dir, name), exp

    def land(self, i: int) -> tuple[int, int]:
        path, exp = self._batch(i)
        return exp["rows"], os.path.getsize(path)

    def trigger(self, i: int) -> str:
        path, _ = self._batch(i)
        return self.runner.run(params={"sourcePath": path, "batch": f"b{i:05d}"})

    def expected_result(self, i: int) -> str:
        return f"published b{i:05d}"

    def check(self, i: int) -> list[str]:
        _, exp = self._batch(i)
        self.published += len(exp["survivors"])
        head = snapshots.read_snapshot(self.spark, self.corpus)
        rows = head.filter(
            F.col("doc_id").between(exp["base"], exp["base"] + self.batch_id_stride - 1)
        ).select("doc_id", "text").collect()
        bad = []
        got = sorted(r["doc_id"] for r in rows)
        if got != exp["survivors"]:
            bad.append(f"batch {i}: {len(got)} survivors != {len(exp['survivors'])} expected")
        texts = {r["doc_id"]: r["text"] for r in rows}
        for doc_id, planted in exp["pii"].items():
            text = texts.get(int(doc_id), "")
            if any(p in text for p in planted):
                bad.append(f"doc {doc_id}: PII left in published text")
            if not all(tag in text for tag, p in zip(("[EMAIL]", "[PHONE]"), planted)):
                bad.append(f"doc {doc_id}: redaction tag missing")
        n_head = head.count()
        if n_head != self.published:
            bad.append(f"corpus head: {n_head} != {self.published}")
        return bad

    def stored_bytes(self) -> int:
        return _dir_bytes(self.corpus)


WORKLOADS = {w.name: w for w in (BulkCsv, DailySmall, CurationWap)}
