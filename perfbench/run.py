"""Benchmark of the power-generation engine: one command, named workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each workload is a closed loop with one
client and one Spark session on ``local[min(4, nproc)]``. Set-up (Spark
start, seeded input generation, warm-up passes, oracle results) is
timed as ``setup_s``; then whole passes run while each is expected to
end within ``--seconds`` (at least one runs), and every op's output is
checked outside its timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a
separate run that wraps each layer's public functions with spans (see
``layers.py``) and prints the per-layer metrics instead, per timed pass.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Without the engine package
next to this directory the command exits 2 without printing a result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import calendar  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from datetime import date  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = min(4, len(os.sched_getaffinity(0)))

# Catalog data is generated at this scale factor (TESTDATA.md's sf0.001 row
# counts; documents and embeddings have 500 rows each).
CATALOG_SF = 0.001
# Untimed warm-up passes in set-up (for ingest_month they also pre-load
# one month each). A cold pass takes 2-3x a warm one and a second pass
# is still about 10% slower than the third, but one warm-up pass is all
# that fits the benchmark's budget of about a minute per run.
WARMUP_PASSES = 1

# One catalog pass: light entries whose fixed cost (eager reads,
# Catalyst) dominates; two n-gram similarity entries, the first of which
# builds and cuts from lineage the shingle products the second reuses
# from the memo; a stateless streaming window rollup; and a two-round
# document stream.
CATALOG_PASS = [
    "pricing_summary",
    "json_props_rollup",
    "top_orders",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "stream_hourly_event_counts",
    "stream_text_index_terms",
]

E2E_UNITS = {"setup_s": "s", "wall_s": "s"}


# --- process accounting ---------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_tree(root_pid: int) -> list[int]:
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parents[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = [root_pid], [root_pid]
    while frontier:
        frontier = [p for p, pp in parents.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def _cpu_seconds(pids: list[int]) -> float:
    """utime+stime of each process plus its reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / _TICK


def _peak_rss_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


# --- environment ------------------------------------------------------------

def _steady_env(work: str) -> None:
    """Fix the settings that made earlier runs unsteady or host-dependent."""
    for k in list(os.environ):
        if k.startswith("SPARK_ETL_") or k in (
            "START_OVERRIDE", "END_OVERRIDE", "SPARK_GRAFT_ON_CLUSTER",
        ):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _spark(work: str):
    from power_generation_etl_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


# --- workloads ----------------------------------------------------------------

class Run:
    """State shared by a workload's set-up, passes and checks."""

    def __init__(self, spark, args, work: str, tracer):
        self.spark = spark
        self.args = args
        self.work = work
        self.tracer = tracer
        self.jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        self.ops: list[dict] = []  # timed ops
        self.pass_ops: list[list[dict]] = []
        self.setup_failures = 0
        self.next_op = 0

    def cpu(self) -> float:
        """CPU seconds of the driver plus the JVM and its Python workers."""
        return _cpu_seconds([os.getpid()] + _proc_tree(self.jvm_pid))

    def op(self, kind: str, fn, check, timed: bool) -> None:
        """Run one op: ``fn`` is timed, ``check(result)`` is not."""
        rec = {"kind": kind, "ok": False, "id": self.next_op}
        self.next_op += 1
        tr = self.tracer
        if tr is not None:
            tr.op_id = rec["id"]
        cpu0 = self.cpu()
        t0 = time.perf_counter()
        try:
            if tr is not None:
                with tr.span(f"op.{kind}", op_root=True):
                    result = fn()
            else:
                result = fn()
            rec["s"] = time.perf_counter() - t0
            rec["cpu"] = self.cpu() - cpu0
            # Checks run outside the timed region, and in a traced run
            # under a job group of their own.
            if tr is not None:
                tr.op_id = None
                self.spark.sparkContext.setJobGroup("perfbench-check", "output check")
            problem = check(result)
            rec["ok"] = problem is None
            if problem:
                print(f"# {kind}: wrong output: {problem}", file=sys.stderr)
        except Exception:
            rec.setdefault("s", time.perf_counter() - t0)
            rec.setdefault("cpu", self.cpu() - cpu0)
            traceback.print_exc(file=sys.stderr)
        if tr is not None:
            tr.op_id = None
            self.spark.sparkContext._jsc.clearJobGroup()
        if timed:
            self.ops.append(rec)
        elif not rec["ok"]:
            self.setup_failures += 1

    def warm_up(self, one_pass) -> None:
        self.warmup_s = []
        for _ in range(WARMUP_PASSES):
            t0 = time.perf_counter()
            one_pass(timed=False)
            self.warmup_s.append(time.perf_counter() - t0)

    def timed_passes(self, one_pass) -> None:
        """Run whole passes; one starts only if it should end within
        ``--seconds`` (by the last pass time), and at least one runs."""
        expected_s = self.warmup_s[-1]
        self.window = [time.time(), None]
        self.setup_s = time.perf_counter() - T_START
        start = time.perf_counter()
        while not self.pass_ops or time.perf_counter() - start + expected_s <= self.args.seconds:
            n = len(self.ops)
            t0 = time.perf_counter()
            one_pass(timed=True)
            expected_s = time.perf_counter() - t0
            self.pass_ops.append(self.ops[n:])
        self.window[1] = time.time()


def ingest_month(run: Run) -> None:
    """Month cycles through the reference's one published throughput
    path: load a new seeded ENTSOE month with ``incremental_extract``,
    re-load the same file (inserts nothing), refresh its month's views."""
    import gen
    from power_generation_etl_spark import incremental
    from power_generation_etl_spark.engine import Engine

    engine = Engine(run.spark, os.path.join(run.work, "warehouse"))
    files = os.path.join(run.work, "months")
    landing = os.path.join(run.work, "landing")
    os.makedirs(files)
    os.makedirs(landing)
    state = {"n": 0, "input_bytes": 0, "rows_by_month": {},
             "kinds": {"load": [], "reload": [], "refresh": []}}

    def cycle(timed: bool) -> None:
        first = incremental.INCREMENTAL_SOURCES["entsoe"].min_start_date
        m = incremental.add_months(first, state["n"])
        state["n"] += 1
        last = date(m.year, m.month, calendar.monthrange(m.year, m.month)[1])
        ym = f"{m.year:04d}-{m.month:02d}"
        path = os.path.join(files, f"entsoe_{ym}.jsonl")
        want = gen.entsoe_month(path, run.args.seed, m.year, m.month)

        def extractor(lo, hi):
            link = os.path.join(landing, os.path.basename(path))
            os.link(path, link)
            return link

        def ops():
            t0 = time.perf_counter()
            loaded = incremental.incremental_extract(engine, "entsoe", extractor, today=last)
            t1 = time.perf_counter()
            again = engine.load_jsonl("entsoe", path)
            t2 = time.perf_counter()
            views = engine.refresh_views_incremental([ym], "entsoe")
            t3 = time.perf_counter()
            return loaded, again, views, (t1 - t0, t2 - t1, t3 - t2)

        def check(out):
            loaded, again, views, split = out
            got = [(r["month"], r["inserted"], r["skipped"], r["invalid"]) for r in loaded]
            if got != [(ym, want["inserted"], 0, want["invalid"])]:
                return f"load {got} != {[(ym, want['inserted'], 0, want['invalid'])]}"
            rep = again.report
            seen = (again.success, again.inserted, again.skipped_existing,
                    rep.duplicate_count, rep.invalid_count)
            if seen != (True, 0, want["inserted"], want["duplicates"], want["invalid"]):
                return f"re-load {seen}"
            if sorted(views) != ["mv_entsoe_monthly", "mv_entsoe_plant_monthly", "mv_entsoe_row_counts"]:
                return f"views {views}"
            state["rows_by_month"][ym] = want["inserted"]
            counts = {str(r["month"])[:7]: r["row_count"] for r in engine.table("mv_entsoe_row_counts").collect()}
            if counts != state["rows_by_month"]:
                return f"mv_entsoe_row_counts {counts} != {state['rows_by_month']}"
            if timed:
                for kind, s in zip(("load", "reload", "refresh"), split):
                    state["kinds"][kind].append(s)
                state["rows"] = state.get("rows", 0) + want["inserted"]
                state["input_bytes"] += want["bytes"]
            return None

        run.op("month_cycle", ops, check, timed)
        os.remove(path)

    run.warm_up(cycle)
    run.timed_passes(cycle)
    k = state["kinds"]
    load_s = sum(k["load"])
    run.layer_extra = {
        "ingest.load_p50_s": _median(k["load"]),
        "ingest.reload_p50_s": _median(k["reload"]),
        "ingest.refresh_p50_s": _median(k["refresh"]),
        "ingest.rows_per_s": state.get("rows", 0) / load_s if load_s else 0.0,
        "input_bytes": state["input_bytes"] / len(run.pass_ops),
    }


def catalog(run: Run) -> None:
    """Passes over a fixed list of catalog entries on seeded tables,
    each compared with its DuckDB oracle."""
    import duckdb

    import __spark_entry__
    import gen
    from power_generation_etl_spark.memo import PlanMemo
    from tools.check_correctness import TABLES, _norm_rows

    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()

    sf_dir = os.path.join(run.work, "sf")
    gen.catalog_tables(sf_dir, run.args.seed, CATALOG_SF)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    expected = {}
    for name in CATALOG_PASS:
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        expected[name] = (sorted(cols), _norm_rows(cols, res.fetchall()))
    con.close()

    memos = [
        v for mod_name, mod in list(sys.modules.items())
        if mod is not None and mod_name.startswith("power_generation_etl_spark")
        for v in vars(mod).values() if isinstance(v, PlanMemo)
    ]

    def one_pass(timed: bool) -> None:
        for m in memos:
            m.clear()
        for name in CATALOG_PASS:
            fn = queries[name]

            def call(name=name, fn=fn):
                tr = run.tracer
                if tr is None:
                    df = fn(run.spark, sf_dir)
                    return df.columns, df.collect()
                with tr.span("plans.build"):
                    df = fn(run.spark, sf_dir)
                with tr.span("plans.collect"):
                    rows = df.collect()
                tr.record_phases(df)
                return df.columns, rows

            def check(out, name=name):
                cols, rows = out
                want_cols, want_rows = expected[name]
                if sorted(cols) != want_cols:
                    return f"{name}: columns {sorted(cols)} != {want_cols}"
                got = _norm_rows(cols, [tuple(r) for r in rows])
                if got != want_rows:
                    return f"{name}: {len(got)} rows differ from the oracle's {len(want_rows)}"
                return None

            run.op(name, call, check, timed)

    run.warm_up(one_pass)
    run.timed_passes(one_pass)
    run.layer_extra = {}


WORKLOADS = {"ingest_month": ingest_month, "catalog": catalog}


# --- reporting ------------------------------------------------------------------

def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _pass_median(run: Run, key: str) -> float:
    return _median([sum(o[key] for o in p) for p in run.pass_ops])


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "power_generation_etl_spark", "engine.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, HERE)
    spark = None
    try:
        _steady_env(work)
        t0 = time.perf_counter()
        spark = _spark(work)
        get_spark_s = time.perf_counter() - t0
        import __spark_entry__  # noqa: F401  (loads the whole catalog)

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
            tracer.install()
        run = Run(spark, args, work, tracer)
        WORKLOADS[args.workload](run)

        ops = run.ops
        failed = sum(not o["ok"] for o in ops)
        summary = {
            "workload": args.workload,
            "warmup_s": [round(t, 2) for t in run.warmup_s],
            "passes": len(run.pass_ops),
            "ops": len(ops),
            "setup_failures": run.setup_failures,
            "cpus": CPUS,
            "op_s": [[o["kind"], round(o["s"], 3)] for o in ops],
        }
        print("# " + json.dumps(summary), file=sys.stderr)
        if args.trace:
            from layers import LAYER_UNITS, layer_metrics

            values = layer_metrics(tracer, {o["id"] for o in ops}, len(run.pass_ops), tuple(run.window))
            values.update(run.layer_extra)
            input_bytes = values.pop("input_bytes", 0)
            values["store.bytes_per_input_byte"] = (
                values.pop("store.bytes_written") / input_bytes if input_bytes else 0.0
            )
            values["session.get_spark_s"] = get_spark_s
            values["trace.wall_s"] = _pass_median(run, "s")
            values["process.cpu_s"] = _pass_median(run, "cpu")
            values["process.peak_rss_mb"] = _peak_rss_mb([os.getpid(), run.jvm_pid])
            units = LAYER_UNITS
        else:
            values = {"setup_s": run.setup_s, "wall_s": _pass_median(run, "s")}
            units = E2E_UNITS
        result = {
            "correct": failed == 0 and run.setup_failures == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
