"""Outside-in layer trace for the benchmark.

Spans are recorded around calls into each layer's public functions by
replacing module and class attributes from here; the program itself is
not changed. Each span records name, start, end, parent span and op id,
and runs its Spark jobs under a job group of its own, so jobs, stages,
tasks and stage metrics can be attributed to it afterwards from the
local UI's REST endpoint. Jobs started from pool threads lose the job
group; those started during the timed passes are counted as
unattributed instead of being dropped.

Spans stay in memory until ``layer_metrics`` turns them into per-pass
numbers at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
import urllib.request
from collections import Counter, defaultdict
from datetime import datetime

PKG = "power_generation_etl_spark"

# Per-layer metrics printed by a traced run, per timed pass.
LAYER_UNITS = {
    "jsonl.load_and_validate.s": "s",
    "jsonl.load_and_validate.jobs": "count",
    "jsonl.peek_first_record.s": "s",
    "jsonl.peek_first_record.calls": "count",
    "engine.load_jsonl.self_s": "s",
    "engine.load_jsonl.jobs": "count",
    "engine.get_date_range_for_run.s": "s",
    "engine.upsert_metadata.s": "s",
    "engine.get_latest_date.s": "s",
    "engine.refresh_views_incremental.s": "s",
    "incremental.incremental_extract.self_s": "s",
    "store.read_range.s": "s",
    "store.append.s": "s",
    "store.overwrite.s": "s",
    "store.files_written": "count",
    "store.bytes_per_input_byte": "ratio",
    "ingest.load_p50_s": "s",
    "ingest.reload_p50_s": "s",
    "ingest.refresh_p50_s": "s",
    "ingest.rows_per_s": "rows/s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.collect_s": "s",
    "plans.collect_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "memo.builds": "count",
    "memo.hits": "count",
    "memo.build_s": "s",
    "lineage.cuts": "count",
    "lineage.cut_s": "s",
    "stream.queries": "count",
    "stream.batches": "count",
    "stream.start_s": "s",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s",
    "plans.overlap_two_rounds.s": "s",
    "spark.jobs": "count",
    "spark.unattributed_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "session.get_spark_s": "s",
    "process.cpu_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.wall_s": "s",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.op_id: int | None = None
        self._op_span: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op_root: bool = False):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1]["id"] if stack else self._op_span
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id,
               "group": f"perfbench-{sid}"}
        stack.append(rec)
        if op_root:
            self._op_span = sid
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            if op_root:
                self._op_span = None
            with self._lock:
                self.spans.append(rec)

    def traced(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- installing wrappers --------------------------------------------
    def wrap_function(self, fn, name: str) -> None:
        """Replace ``fn`` wherever a loaded module of the package binds
        it, including names imported into other modules."""
        wrapped = self.traced(name, fn)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapped)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.traced(name, getattr(cls, attr)))

    def install(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from power_generation_etl_spark import incremental, lineage
        from power_generation_etl_spark.engine import Engine
        from power_generation_etl_spark.memo import PlanMemo
        from power_generation_etl_spark.plans import queries
        from power_generation_etl_spark.sources import jsonl
        from power_generation_etl_spark.store import TableStore

        self.wrap_function(jsonl.load_and_validate, "jsonl.load_and_validate")
        self.wrap_function(jsonl.peek_first_record, "jsonl.peek_first_record")
        self.wrap_function(incremental.incremental_extract, "incremental.incremental_extract")
        self.wrap_function(lineage.cut, "lineage.cut")
        self.wrap_function(lineage.cut_index, "lineage.cut")
        self.wrap_function(queries.overlap_two_rounds, "plans.overlap_two_rounds")
        for attr in ("load_jsonl", "get_date_range_for_run", "upsert_metadata",
                     "get_latest_date", "refresh_views_incremental"):
            self.wrap_method(Engine, attr, f"engine.{attr}")
        self.wrap_method(TableStore, "read_range", "store.read_range")
        for attr in ("append", "overwrite"):
            self._wrap_store_write(TableStore, attr)
        self.wrap_method(DataStreamWriter, "start", "stream.start")

        tracer = self
        get_or_build = PlanMemo.get_or_build

        @functools.wraps(get_or_build)
        def counted(memo, key, src, build):
            built = []

            def timed_build():
                built.append(True)
                with tracer.span("memo.build"):
                    return build()

            product = get_or_build(memo, key, src, timed_build)
            tracer.count("memo.builds" if built else "memo.hits")
            return product

        PlanMemo.get_or_build = counted
        self.spark.streams.addListener(_progress_listener(self))

    def _wrap_store_write(self, cls, attr: str) -> None:
        """Span a TableStore write and count the parquet files and bytes
        it left in the table directory."""
        write = getattr(cls, attr)
        tracer = self

        @functools.wraps(write)
        def wrapper(store, table, *args, **kwargs):
            before = _parquet_files(store.path(table))
            with tracer.span(f"store.{attr}"):
                out = write(store, table, *args, **kwargs)
            new = _parquet_files(store.path(table)).items() - before.items()
            tracer.count("store.files_written", len(new))
            tracer.count("store.bytes_written", sum(size for _, size in new))
            return out

        setattr(cls, attr, wrapper)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[(self.op_id, key)] += n

    # -- Catalyst --------------------------------------------------------
    def record_phases(self, df) -> None:
        """Catalyst phase times of the plan that ``df`` last executed."""
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self.count(f"catalyst.{phase}_s", phases.apply(phase).durationMs() / 1000.0)

    # -- Spark REST ------------------------------------------------------
    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://localhost:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def spark_jobs(self) -> tuple[list[dict], dict[int, list[dict]]]:
        jobs = self._rest("jobs")
        stages = {}
        for st in self._rest("stages"):
            stages.setdefault(st["stageId"], []).append(st)
        return jobs, stages


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            tracer.count("stream.queries")

        def onQueryProgress(self, event):
            d = event.progress.durationMs
            tracer.count("stream.batches")
            tracer.count("stream.trigger_s", d.get("triggerExecution", 0) / 1000.0)
            tracer.count("stream.add_batch_s", d.get("addBatch", 0) / 1000.0)
            tracer.count("stream.wal_commit_s", d.get("walCommit", 0) / 1000.0)

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _rest_seconds(stamp: str) -> float:
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _self_seconds(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    lo, hi = span["start"], span["end"]
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        a, b = max(lo, c["start"]), min(hi, c["end"])
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def layer_metrics(tracer: Tracer, timed_ops: set[int], passes: int, window: tuple[float, float]) -> dict[str, float]:
    """Per-pass layer numbers over the timed ops: sums over the timed
    region divided by the number of timed passes."""
    spans = [s for s in tracer.spans if s["op"] in timed_ops]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    by_group = {s["group"]: s for s in spans}
    jobs, stages = tracer.spark_jobs()

    counted = Counter()
    span_jobs = defaultdict(list)
    unattributed = []
    lo, hi = window
    for job in jobs:
        group = job.get("jobGroup")
        if group in by_group:
            span_jobs[by_group[group]["id"]].append(job)
        elif group is None and lo <= _rest_seconds(job.get("submissionTime")) <= hi:
            unattributed.append(job)

    def inclusive_jobs(s) -> list[dict]:
        out = list(span_jobs[s["id"]])
        for c in children[s["id"]]:
            out.extend(inclusive_jobs(c))
        return out

    total = Counter()
    for s in spans:
        dur = s["end"] - s["start"]
        name = s["name"]
        total[f"{name}.s"] += dur
        total[f"{name}.self_s"] += _self_seconds(s, children[s["id"]])
        total[f"{name}.calls"] += 1
        total[f"{name}.jobs"] += len(inclusive_jobs(s))
        total[f"{name}.self_jobs"] += len(span_jobs[s["id"]])
    for (op, key), v in tracer.counts.items():
        if op in timed_ops:
            counted[key] += v

    timed_jobs = [j for s in spans for j in span_jobs[s["id"]]] + unattributed
    stage_ids = {sid for j in timed_jobs for sid in j.get("stageIds", [])}
    run = [a for sid in stage_ids for a in stages.get(sid, []) if a.get("status") != "SKIPPED"]

    n = max(1, passes)
    m = {
        "jsonl.load_and_validate.s": total["jsonl.load_and_validate.s"],
        "jsonl.load_and_validate.jobs": total["jsonl.load_and_validate.jobs"],
        "jsonl.peek_first_record.s": total["jsonl.peek_first_record.s"],
        "jsonl.peek_first_record.calls": total["jsonl.peek_first_record.calls"],
        "engine.load_jsonl.self_s": total["engine.load_jsonl.self_s"],
        "engine.load_jsonl.jobs": total["engine.load_jsonl.self_jobs"],
        "engine.get_date_range_for_run.s": total["engine.get_date_range_for_run.s"],
        "engine.upsert_metadata.s": total["engine.upsert_metadata.s"],
        "engine.get_latest_date.s": total["engine.get_latest_date.s"],
        "engine.refresh_views_incremental.s": total["engine.refresh_views_incremental.s"],
        "store.read_range.s": total["store.read_range.s"],
        "store.append.s": total["store.append.s"],
        "store.overwrite.s": total["store.overwrite.s"],
        "incremental.incremental_extract.self_s": total["incremental.incremental_extract.self_s"],
        "plans.build_s": total["plans.build.s"],
        "plans.build_jobs": total["plans.build.jobs"],
        "plans.collect_s": total["plans.collect.s"],
        "plans.collect_jobs": total["plans.collect.jobs"],
        "catalyst.analysis_s": counted["catalyst.analysis_s"],
        "catalyst.optimization_s": counted["catalyst.optimization_s"],
        "catalyst.planning_s": counted["catalyst.planning_s"],
        "memo.builds": counted["memo.builds"],
        "memo.hits": counted["memo.hits"],
        "memo.build_s": total["memo.build.s"],
        "lineage.cuts": total["lineage.cut.calls"],
        "lineage.cut_s": total["lineage.cut.s"],
        "stream.queries": counted["stream.queries"],
        "stream.batches": counted["stream.batches"],
        "stream.start_s": total["stream.start.s"],
        "stream.trigger_s": counted["stream.trigger_s"],
        "stream.add_batch_s": counted["stream.add_batch_s"],
        "stream.wal_commit_s": counted["stream.wal_commit_s"],
        "plans.overlap_two_rounds.s": total["plans.overlap_two_rounds.s"],
        "store.files_written": counted["store.files_written"],
        "store.bytes_written": counted["store.bytes_written"],
        "spark.jobs": len(timed_jobs),
        "spark.unattributed_jobs": len(unattributed),
        "spark.stages": len(run),
        "spark.tasks": sum(a.get("numTasks", 0) for a in run),
        "spark.executor_cpu_s": sum(a.get("executorCpuTime", 0) for a in run) / 1e9,
        "spark.gc_s": sum(a.get("jvmGcTime", 0) for a in run) / 1000.0,
        "spark.shuffle_mb": sum(a.get("shuffleWriteBytes", 0) for a in run) / 2**20,
        "spark.spill_mb": sum(a.get("diskBytesSpilled", 0) for a in run) / 2**20,
    }
    return {k: v / n for k, v in m.items()}
