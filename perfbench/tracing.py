"""Traced runs: spans around the engine's public functions, recorded from
the benchmark's side, plus isolation passes that give lazy layers a time.

The engine's lazy layers (``read_raw_csv``, ``coerce_columns``, the
curation operators) return a DataFrame in milliseconds; their cost lands
inside whichever eager call executes the plan. After each traced DAG run
the captured DataFrames are therefore re-executed into Spark's ``noop``
sink one prefix at a time (lines, tokenized rows, coerced rows; landed,
deduped, gated, decontaminated, redacted docs), and a layer's self time is
the difference between adjacent passes. A differenced time can read
slightly below zero when the layer costs less than the run-to-run noise.

Spans (name, start, end, parent, run id) stay in memory and are written
out as JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
import traceback
from contextlib import contextmanager

from importlib import import_module

from pyspark.sql import functions as F

from etl_workflows_spark.exceptions import CsvNotFound
from etl_workflows_spark.operators import decontam, pii, text
from etl_workflows_spark.orchestrate import curation_services
from etl_workflows_spark.sinks import snapshots
from etl_workflows_spark.sources import csv_source
from workloads import table_dir

# the plans package re-exports its functions under the module names
plan_load_csv = import_module("etl_workflows_spark.plans.load_csv")
plan_load_query = import_module("etl_workflows_spark.plans.load_query")

# Per-layer metrics, (name, unit), in report order. All are per DAG run
# except the ratios and ``sinks.snapshots.versions`` (table size at the
# end of the run).
LAYER_METRICS = [
    ("sources.csv_source.scan_s", "s"),
    ("sources.csv_source.tokenize_s", "s"),
    ("sources.csv_source.lines_in", "count"),
    ("sources.csv_source.rows_out", "count"),
    ("sources.csv_source.keep_ratio", "ratio"),
    ("operators.coerce.self_s", "s"),
    ("operators.coerce.cells", "count"),
    ("operators.coerce.null_ratio", "ratio"),
    ("sinks.writer.self_s", "s"),
    ("sinks.writer.calls", "count"),
    ("sinks.writer.files_written", "count"),
    ("sinks.writer.bytes_written", "bytes"),
    ("sources.files.busy_s", "s"),
    ("sources.files.archived", "count"),
    ("orchestrate.workflow.self_s", "s"),
    ("orchestrate.workflow.calls", "count"),
    ("orchestrate.workflow.calls_failed", "count"),
    ("orchestrate.workflow.calls_not_found", "count"),
    ("plans.load_csv.self_s", "s"),
    ("plans.load_query.busy_s", "s"),
    ("session.spark_jobs", "count"),
    ("session.spark_tasks", "count"),
    ("session.spark_tasks_failed", "count"),
    ("orchestrate.curation_services.land_s", "s"),
    ("orchestrate.curation_services.stage_s", "s"),
    ("orchestrate.curation_services.audit_s", "s"),
    ("orchestrate.curation_services.publish_s", "s"),
    ("orchestrate.curation_services.yield_ratio", "ratio"),
    ("operators.dedup.self_s", "s"),
    ("operators.dedup.rows_out", "count"),
    ("operators.text.self_s", "s"),
    ("operators.text.rows_out", "count"),
    ("operators.decontam.self_s", "s"),
    ("operators.decontam.rows_out", "count"),
    ("operators.pii.self_s", "s"),
    ("operators.pii.rows_out", "count"),
    ("sinks.snapshots.stage_s", "s"),
    ("sinks.snapshots.read_s", "s"),
    ("sinks.snapshots.publish_s", "s"),
    ("sinks.snapshots.files_written", "count"),
    ("sinks.snapshots.bytes_written", "bytes"),
    ("sinks.snapshots.versions", "count"),
    ("trace.overhead_ratio", "ratio"),
]

# ratio metric -> (numerator total, denominator total)
_RATIOS = {
    "sources.csv_source.keep_ratio": ("sources.csv_source.rows_out", "sources.csv_source.lines_in"),
    "operators.coerce.null_ratio": ("_coerce_nulls", "operators.coerce.cells"),
    "orchestrate.curation_services.yield_ratio": ("_staged_rows", "_landed_rows"),
}

_ENGINE_CALLS = {"load_csv": "plans.load_csv", "load_query": "plans.load_query"}
_CURATION_CALLS = {
    "land_raw": "orchestrate.curation_services.land_s",
    "stage_curated": "orchestrate.curation_services.stage_s",
    "audit_yield": "orchestrate.curation_services.audit_s",
    "publish_curated": "orchestrate.curation_services.publish_s",
}


def noop_seconds(df) -> float:
    """Execute ``df`` fully into the ``noop`` sink; return the wall time."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _files(path: str) -> dict[str, int]:
    """Data files (relative path -> bytes) under ``path``."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(dirpath, n)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _written(before: dict[str, int], after: dict[str, int]) -> dict:
    """Count and bytes of the files in ``after`` that ``before`` lacks."""
    new = [b for f, b in after.items() if f not in before]
    return {"files": len(new), "bytes": sum(new)}


class Span:
    __slots__ = ("name", "start", "end", "parent", "run", "error", "index")

    def __init__(self, name, start, parent, run, index):
        self.name, self.start, self.parent, self.run = name, start, parent, run
        self.end = None
        self.error = None
        self.index = index

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and captured DataFrames for the DAG runs it is
    ``active`` in, and turns them into per-layer metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []
        self.run_id = None
        self._cap: dict = {}
        self.per_run: list[dict] = []

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].index if self._stack else None
        sp = Span(name, time.perf_counter(), parent, self.run_id, len(self.spans))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def _wrap(self, name: str, fn, before=None, after=None):
        """``before(span, args, kwargs)`` returns state handed on to
        ``after(span, state, args, kwargs, result)``; both run inside the
        span."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                state = before(sp, args, kwargs) if before else None
                out = fn(*args, **kwargs)
                if after:
                    after(sp, state, args, kwargs, out)
            return out

        return wrapper

    def _patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self._wrap(name, original, before, after))

    def install(self, registry: dict) -> None:
        """Wrap the engine's public functions (module attributes the plans
        and the curation registry look up at call time) and the workload's
        registry callables."""
        cap = self._cap
        self._patch(plan_load_csv, "find_most_recent_csv", "sources.files.find")
        self._patch(plan_load_csv, "load_schema_file", "schema.registry.load")
        self._patch(plan_load_csv, "read_raw_csv", "sources.csv_source.read_raw_csv",
                    after=self._after_read_raw)
        self._patch(plan_load_csv, "coerce_columns", "operators.coerce.coerce_columns",
                    after=lambda sp, st, a, kw, out: cap["csv"][-1].update(coerced=out))
        for plan in (plan_load_csv, plan_load_query):
            self._patch(plan, "write_table", "sinks.writer.write_table",
                        before=self._before_write, after=self._after_write)
        self._patch(plan_load_csv, "archive_processed", "sources.files.archive",
                    after=lambda sp, st, a, kw, out: cap["archived"].append((a[1], out)))
        self._patch(curation_services, "drop_exact_duplicates", "operators.dedup",
                    after=lambda sp, st, a, kw, out: cap["docs"].update(land=a[0], dedup=out))
        self._patch(text, "quality_gate", "operators.text.quality_gate")
        self._patch(decontam, "decontaminate", "operators.decontam",
                    after=lambda sp, st, a, kw, out: cap["docs"].update(gate=a[0], decontam=out))
        self._patch(pii, "redact_pii", "operators.pii",
                    after=lambda sp, st, a, kw, out: cap["docs"].update(pii=out))
        self._patch(snapshots, "stage", "sinks.snapshots.stage",
                    before=self._before_stage, after=self._after_stage)
        self._patch(snapshots, "read_staged", "sinks.snapshots.read_staged",
                    after=lambda sp, st, a, kw, out: cap["staged"].append((sp, out)))
        self._patch(snapshots, "publish_staged", "sinks.snapshots.publish_staged")
        names = {**_ENGINE_CALLS, **_CURATION_CALLS}
        for key, fn in list(registry.items()):
            self._patches.append((registry, key, fn))
            registry[key] = self._wrap(names.get(key, f"registry.{key}"), fn)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)
        self._patches.clear()

    # -- captures -----------------------------------------------------------

    def _after_read_raw(self, sp, st, args, kwargs, out):
        skip = kwargs.get("skip_header", args[3] if len(args) > 3 else True)
        self._cap["csv"].append({"path": args[1], "skip_header": skip,
                                 "n_fields": args[2], "raw": out})

    def _before_write(self, sp, args, kwargs):
        return _files(table_dir(self.spark, args[1]))

    def _after_write(self, sp, before, args, kwargs, out):
        after = _files(table_dir(self.spark, args[1]))
        self._cap["writes"].append({"span": sp, "df": args[0], **_written(before, after)})

    def _before_stage(self, sp, args, kwargs):
        return _files(os.path.join(args[1], "data"))

    def _after_stage(self, sp, before, args, kwargs, out):
        after = _files(os.path.join(args[1], "data"))
        self._cap["stages"].append({"span": sp, "df": args[0], "table_dir": args[1],
                                    **_written(before, after)})

    # -- one traced DAG run ---------------------------------------------------

    def begin(self, run_id: int) -> None:
        self.run_id = run_id
        self._cap.clear()
        self._cap.update(csv=[], writes=[], archived=[], docs={},
                         stages=[], staged=[])
        self.spark.sparkContext.setJobGroup(f"perfbench-dag-{run_id}", "traced DAG run")
        self.active = True

    def dag(self):
        """The span of one whole DAG run."""
        return self.span("dag.run")

    def finish(self) -> dict:
        """Stop recording, run the isolation passes and return this DAG
        run's per-layer totals."""
        self.active = False
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-isolate-{self.run_id}", "isolation passes")
        m: dict[str, float] = {}
        self._memo: dict[int, float] = {}
        restored = self._restore_inputs()
        try:
            self._isolate_csv(m)
            self._isolate_writes(m)
            self._isolate_docs(m)
        except Exception:
            # a failed DAG run leaves partial captures; its spans and Spark
            # counts are still recorded below
            traceback.print_exc()
        finally:
            for p in restored:
                os.remove(p)
        self._span_metrics(m)
        self._spark_counts(m, f"perfbench-dag-{self.run_id}")
        self.per_run.append(m)
        return m

    def _restore_inputs(self) -> list[str]:
        """Re-link archived inputs at their original path so the captured
        DataFrames, which were planned against it, can run again."""
        restored = []
        for bucket, names in self._cap["archived"]:
            for n in names:
                dst = os.path.join(bucket, n)
                if not os.path.exists(dst):
                    os.link(os.path.join(bucket, "ARCHIVED", n), dst)
                    restored.append(dst)
        return restored

    def _noop(self, df) -> float:
        """``noop_seconds`` once per captured DataFrame of this run."""
        if id(df) not in self._memo:
            self._memo[id(df)] = noop_seconds(df)
        return self._memo[id(df)]

    def _isolate_csv(self, m: dict) -> None:
        for e in self._cap["csv"]:
            lines = csv_source.read_lines(self.spark, e["path"], skip_header=e["skip_header"])
            t_scan = noop_seconds(lines)
            t_raw = self._noop(e["raw"])
            _add(m, "sources.csv_source.scan_s", t_scan)
            _add(m, "sources.csv_source.tokenize_s", t_raw - t_scan)
            n_lines = lines.count()
            n_rows = e["raw"].count()
            _add(m, "sources.csv_source.lines_in", n_lines)
            _add(m, "sources.csv_source.rows_out", n_rows)
            coerced = e.get("coerced")
            if coerced is not None:
                _add(m, "operators.coerce.self_s", self._noop(coerced) - t_raw)
                _add(m, "operators.coerce.cells", n_rows * e["n_fields"])
                nulls = coerced.select(
                    sum(F.col(c).isNull().cast("long") for c in coerced.columns).alias("n")
                ).agg(F.sum("n")).first()[0]
                _add(m, "_coerce_nulls", nulls or 0)

    def _isolate_writes(self, m: dict) -> None:
        for w in self._cap["writes"]:
            upstream = self._noop(w["df"])
            _add(m, "sinks.writer.self_s", w["span"].seconds - upstream)
            _add(m, "sinks.writer.calls", 1)
            _add(m, "sinks.writer.files_written", w["files"])
            _add(m, "sinks.writer.bytes_written", w["bytes"])

    def _isolate_docs(self, m: dict) -> None:
        docs = self._cap["docs"]
        chain = [("land", None), ("dedup", "operators.dedup"), ("gate", "operators.text"),
                 ("decontam", "operators.decontam"), ("pii", "operators.pii")]
        prev = None
        for key, layer in chain:
            if key not in docs:
                prev = None
                continue
            t = self._noop(docs[key])
            n = docs[key].count()
            if key == "land":
                _add(m, "_landed_rows", n)
            if layer is not None:
                if prev is not None:
                    _add(m, f"{layer}.self_s", t - prev)
                _add(m, f"{layer}.rows_out", n)
            prev = t
        for s in self._cap["stages"]:
            _add(m, "sinks.snapshots.stage_s", s["span"].seconds - self._noop(s["df"]))
            _add(m, "sinks.snapshots.files_written", s["files"])
            _add(m, "sinks.snapshots.bytes_written", s["bytes"])
            _add(m, "_staged_rows", s["df"].count())
            m["sinks.snapshots.versions"] = len(snapshots.versions(s["table_dir"]))
        for sp, df in self._cap["staged"]:
            _add(m, "sinks.snapshots.read_s", sp.seconds + noop_seconds(df))

    def _span_metrics(self, m: dict) -> None:
        run_spans = [s for s in self.spans if s.run == self.run_id]
        child_time: dict[int, float] = {}
        for s in run_spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.seconds
        for s in run_spans:
            self_s = s.seconds - child_time.get(s.index, 0.0)
            if s.name == "dag.run":
                m["_job_s"] = s.seconds
                _add(m, "orchestrate.workflow.self_s", self_s)
            elif s.name == "plans.load_csv":
                _add(m, "plans.load_csv.self_s", self_s)
            elif s.name == "plans.load_query":
                _add(m, "plans.load_query.busy_s", s.seconds)
            elif s.name in ("sources.files.find", "sources.files.archive"):
                _add(m, "sources.files.busy_s", s.seconds)
            elif s.name == "sinks.snapshots.publish_staged":
                _add(m, "sinks.snapshots.publish_s", s.seconds)
            elif s.name in _CURATION_CALLS.values():
                _add(m, s.name, s.seconds)
            if s.parent is not None and self.spans[s.parent].name == "dag.run":
                _add(m, "orchestrate.workflow.calls", 1)
                if s.error == CsvNotFound.__name__:
                    _add(m, "orchestrate.workflow.calls_not_found", 1)
                elif s.error is not None:
                    _add(m, "orchestrate.workflow.calls_failed", 1)
        for bucket, names in self._cap["archived"]:
            _add(m, "sources.files.archived", len(names))

    def _spark_counts(self, m: dict, group: str) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        stages = set()
        jobs = tracker.getJobIdsForGroup(group)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is not None:  # skipped stages report 0 completed tasks
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        m["session.spark_jobs"] = len(jobs)
        m["session.spark_tasks"] = tasks
        m["session.spark_tasks_failed"] = failed

    # -- results ------------------------------------------------------------

    def summary(self, untraced_job_s: list[float]) -> dict[str, float]:
        """Per-DAG-run means over the traced runs (ratios from totals)."""
        n = len(self.per_run)
        totals: dict[str, float] = {}
        for m in self.per_run:
            for k, v in m.items():
                totals[k] = totals.get(k, 0) + v
        out = {}
        for name, _ in LAYER_METRICS:
            if name in _RATIOS:
                num, den = _RATIOS[name]
                out[name] = totals.get(num, 0) / totals[den] if totals.get(den) else 0.0
            elif name == "sinks.snapshots.versions":
                out[name] = self.per_run[-1].get(name, 0) if n else 0
            else:
                out[name] = totals.get(name, 0) / n if n else 0.0
        traced = sorted(m["_job_s"] for m in self.per_run)
        if traced and untraced_job_s:
            out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced_job_s)
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "run": s.run,
                                    "error": s.error}) + "\n")


def _add(m: dict, key: str, v: float) -> None:
    m[key] = m.get(key, 0) + v


