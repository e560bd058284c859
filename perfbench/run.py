#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload etl_agg --seed 1 --seconds 1 --trace 0

Run from the repository root. The first run in a checkout generates the
fixture tables (``perfbench/fixture.py``) and the DuckDB oracle digests of
every workload's shapes under ``perfbench/.cache``; later runs reuse them.

A run is a single process on ``local[nproc]``: set-up (imports,
``session.get_spark``, ``sources.loader.load`` and the workload's warm-up
queries), then closed-loop passes over the workload's shapes, one query at
a time, in an order permuted by ``--seed``, until ``--seconds`` have passed
(at least one pass; ``wall_s`` is the median pass). Every query starts with ``spark.catalog.clearCache()``,
is timed as ``Query.builder`` plus the ``toPandas()`` that executes the
returned plan, and is then checked against its oracle outside the timed
region.

With ``--trace 1`` the run makes one traced pass instead: it records spans
and counters around each call into the engine, writes them to
``perfbench/.out/trace-<workload>-seed<seed>.json`` and prints the per-layer
metrics instead of the end-to-end ones. Its ``trace.wall_s`` minus the
``wall_s`` of an untraced run with the same seed is the tracing overhead
(``perfbench/record_traces.py`` reports it).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "splio_etl_aggregations_spark"
sys.path.insert(0, HERE)

import check  # noqa: E402
import fixture  # noqa: E402
import tracing  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=0.1, help="fixture scale factor (0.1 = sf0.1)"
    )
    return p.parse_args(argv)


def ensure_fixture(scale: float) -> str:
    """Generate the fixture once per checkout and scale; return its directory."""
    name = f"fixture-g{fixture.GENERATOR_VERSION}-sf{scale:g}"
    out = os.path.join(HERE, ".cache", name)
    if not os.path.isdir(out):
        tmp = f"{out}.{os.getpid()}.tmp"
        fixture.write(tmp, scale)
        try:
            os.rename(tmp, out)
        except OSError:  # another run finished the same fixture first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


class Run:
    """One benchmark process: a pinned scratch area, the Spark session and
    the per-query records of its passes."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.shapes = WORKLOADS[args.workload]["shapes"]
        self.run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.dir = os.path.join(HERE, ".scratch", self.run_id)
        self.tmp = os.path.join(self.dir, "tmp")
        self.records: list[dict] = []
        self.spark = None
        self.jvm_pid = None
        self.gateway_proc = None
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = tracing.Tracer(self.run_id)

    # -- isolation ---------------------------------------------------------
    def pin_environment(self) -> None:
        for sub in ("tmp", "jvmtmp", "local", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub))
        env = os.environ
        env["TMPDIR"] = self.tmp
        env["SPARK_GRAFT_SCRATCH"] = self.tmp
        env["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        env["SPARK_GRAFT_CPUS"] = str(self.nproc)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        env["PYSPARK_SUBMIT_ARGS"] = (
            '--driver-java-options "-XX:-UsePerfData '
            f'-Djava.io.tmpdir={os.path.join(self.dir, "jvmtmp")}" '
            f"--conf spark.sql.warehouse.dir={os.path.join(self.dir, 'warehouse')} "
            "pyspark-shell"
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def close(self) -> None:
        """Stop Spark, wait for the JVM and its workers, drop the scratch."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                children = _descendants(self.jvm_pid) if self.jvm_pid else []
                gateway = SparkContext._gateway
                self.spark.stop()
                if gateway is not None:
                    gateway.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                proc = self.gateway_proc
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                _wait_gone(children)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)

    # -- set-up --------------------------------------------------------------
    def setup(self, fixture_dir: str, cache: check.OracleCache) -> float:
        """Imports, session, load and warm-up; returns the time spent
        computing oracle digests, which is build work, not set-up."""
        t = self.tracer
        with t.span("setup"):
            with t.span("imports"):
                from splio_etl_aggregations_spark import register_all
                from splio_etl_aggregations_spark.registry import all_queries

                register_all()
                self.queries = all_queries()
            b0 = time.perf_counter()
            self.expected = self._oracles(cache)
            oracle_s = time.perf_counter() - b0
            with t.span("session.get_spark"):
                from pyspark import SparkContext

                from splio_etl_aggregations_spark.session import get_spark

                self.spark = get_spark(app_name=f"perfbench-{self.run_id}")
                self.gateway_proc = getattr(SparkContext._gateway, "proc", None)
                self.spark.sparkContext.setLogLevel("ERROR")
                mf = self.spark._jvm.java.lang.management.ManagementFactory
                self.jvm_pid = int(mf.getRuntimeMXBean().getPid())
            with t.span("sources.loader.load"):
                from splio_etl_aggregations_spark.sources.loader import load

                self.tables = load(self.spark, fixture_dir)
            with t.span("warmup"):
                for name in WORKLOADS[self.args.workload]["warmup"]:
                    self.spark.catalog.clearCache()
                    self.queries[name].builder(self.spark, self.tables).toPandas()
                self.spark.catalog.clearCache()
        return oracle_s

    def _oracles(self, cache: check.OracleCache) -> dict[str, dict]:
        """Oracle digests of this workload's shapes. The first run in a
        checkout computes those of every workload, so no later run builds."""
        every = [s for w in WORKLOADS.values() for s in w["shapes"]]
        missing = [s for s in every if s not in self.queries]
        if missing:
            raise KeyError(f"shapes not in the registry: {missing}")
        for name in every:
            if self.queries[name].oracle is None:
                raise ValueError(f"shape {name} has no oracle")
            cache.get(self.queries[name].oracle)
        return {s: cache.get(self.queries[s].oracle) for s in self.shapes}

    # -- passes --------------------------------------------------------------
    def order(self) -> list[str]:
        order = list(self.shapes)
        random.Random(self.args.seed).shuffle(order)
        return order

    def untraced_pass(self) -> float:
        spark, wall = self.spark, 0.0
        for name in self.order():
            q = self.queries[name]
            spark.catalog.clearCache()
            t = time.perf_counter()
            pdf, err = None, None
            try:
                pdf = q.builder(spark, self.tables).toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed query is a result
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
            q_s = time.perf_counter() - t
            wall += q_s
            if err is None:
                err = check.mismatch(self.expected[name], pdf)
            self.records.append({"shape": name, "wall_s": q_s, "error": err})
            del pdf
        return wall

    def traced_pass(self) -> tuple[float, list[dict]]:
        spark, t = self.spark, self.tracer
        sc = spark.sparkContext
        queries: list[dict] = []
        tmp0 = tracing.tree_bytes(self.tmp)
        jvm0 = tracing.jvm_state(spark)
        with t.span("pass"):
            for i, name in enumerate(self.order()):
                q = self.queries[name]
                module = q.builder.__module__.removeprefix(PACKAGE + ".")
                rec = {"shape": name, "module": module}
                with t.span("query", shape=name, module=module) as qc:
                    spark.catalog.clearCache()
                    io0 = tracing.proc_io(self.jvm_pid)
                    tmp_q = tracing.tree_bytes(self.tmp)
                    pdf, df, err = None, None, None
                    try:
                        group = f"{self.run_id}-{i}-builder"
                        sc.setJobGroup(group, name)
                        with t.span("builder") as c:
                            s0 = time.perf_counter()
                            df = q.builder(spark, self.tables)
                            rec["builder_s"] = time.perf_counter() - s0
                        c.update(tracing.job_counts(sc, group))
                        rec.update({f"builder_{k}": v for k, v in c.items()})
                        group = f"{self.run_id}-{i}-exec"
                        sc.setJobGroup(group, name)
                        with t.span("plan"):
                            s0 = time.perf_counter()
                            df._jdf.queryExecution().executedPlan()
                            rec["plan_s"] = time.perf_counter() - s0
                        with t.span("exec") as c:
                            s0 = time.perf_counter()
                            pdf = df.toPandas()
                            rec["exec_s"] = time.perf_counter() - s0
                        c.update(tracing.job_counts(sc, group))
                        rec.update({f"exec_{k}": v for k, v in c.items()})
                    except Exception as exc:  # noqa: BLE001 — a failed query is a result
                        err = f"{type(exc).__name__}: {str(exc)[:300]}"
                    finally:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                    rec["wall_s"] = sum(
                        rec.get(k, 0.0) for k in ("builder_s", "plan_s", "exec_s")
                    )
                    if pdf is not None:
                        rec["collect_rows"] = len(pdf)
                        rec["collect_bytes"] = int(
                            pdf.memory_usage(index=False, deep=True).sum()
                        )
                        rec.update(tracing.plan_counters(spark, df))
                    io1 = tracing.proc_io(self.jvm_pid)
                    rec["io_rchar_bytes"] = io1["rchar"] - io0["rchar"]
                    rec["io_wchar_bytes"] = io1["wchar"] - io0["wchar"]
                    rec["tmp_bytes_left"] = tracing.tree_bytes(self.tmp) - tmp_q
                    rec.update({f"jvm_{k}": v for k, v in tracing.jvm_state(spark).items()})
                    with t.span("check"):
                        if err is None:
                            err = check.mismatch(self.expected[name], pdf)
                    rec["error"] = err
                    qc.update(rec)
                del pdf, df
                queries.append(rec)
        self.records.extend(
            {"shape": r["shape"], "wall_s": r["wall_s"], "error": r["error"]}
            for r in queries
        )
        jvm1 = tracing.jvm_state(spark)
        self.trace_totals = {
            "tmp.bytes_left": tracing.tree_bytes(self.tmp) - tmp0,
            "jvm.gc_s": jvm1["gc_s"] - jvm0["gc_s"],
        }
        return sum(r["wall_s"] for r in queries), queries

    def peak_rss_mb(self) -> float:
        kb = tracing.peak_rss_kb(self.jvm_pid) + tracing.peak_rss_kb(os.getpid())
        return kb / 1024.0

    def environment(self, fixture_dir: str) -> dict:
        import duckdb
        import pyspark

        return {
            "nproc": self.nproc,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "fixture_dir": os.path.relpath(fixture_dir, ROOT),
            "fixture_generator": fixture.GENERATOR_VERSION,
            "scale": self.args.scale,
            "workload": self.args.workload,
            "seed": self.args.seed,
            "shapes": self.shapes,
        }


def _descendants(pid: int) -> list[int]:
    """Process ids of every descendant of ``pid`` (from /proc)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tasks:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for processes that are not our children to exit; kill after
    ``timeout``."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def layer_metrics(run: Run, queries: list[dict], traced: float) -> dict:
    """Per-layer metrics of the traced pass, named as in ``PER_LAYER``."""
    spans = {s["name"]: s for s in run.tracer.export() if s["parent"] in (None, 0)}
    tot = lambda key: float(sum(q.get(key, 0) for q in queries))  # noqa: E731
    m = {
        "session.get_spark_s": spans["session.get_spark"]["duration_s"],
        "loader.load_s": spans["sources.loader.load"]["duration_s"],
        "builder.s": tot("builder_s"),
        "builder.jobs": tot("builder_jobs"),
        "builder.stages": tot("builder_stages"),
        "plan.s": tot("plan_s"),
        "exec.s": tot("exec_s"),
        "exec.jobs": tot("exec_jobs"),
        "exec.stages": tot("exec_stages"),
        "exec.tasks": tot("exec_tasks"),
        "exec.tasks_failed": tot("exec_tasks_failed"),
        "collect.rows": tot("collect_rows"),
        "collect.bytes": tot("collect_bytes"),
        "io.wchar_bytes": tot("io_wchar_bytes"),
        "io.rchar_bytes": tot("io_rchar_bytes"),
        "jvm.heap_used_mb": max(q.get("jvm_heap_used_mb", 0.0) for q in queries),
        "cache.persisted_rdds": max(q.get("jvm_persisted_rdds", 0) for q in queries),
        "trace.wall_s": traced,
        **run.trace_totals,
    }
    for key in (
        "op.shuffle_bytes_written",
        "op.shuffle_records_written",
        "op.spill_bytes",
        "op.peak_memory_bytes",
        "op.broadcast_bytes",
        "op.scan_rows",
        "op.scan_files_bytes",
        "op.python_rows_sent",
        "op.python_bytes_sent",
    ):
        m[key] = tot(key)
    m["op.scan_rows_per_result_row"] = m["op.scan_rows"] / max(1.0, m["collect.rows"])
    for name, _, _, _, _ in PER_LAYER:
        if name.endswith((".builder_s", ".exec_s")) and name not in m:
            module, _, part = name.rpartition(".")
            m[name] = sum(q.get(part, 0.0) for q in queries if q["module"] == module)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    b0 = time.perf_counter()
    fixture_dir = ensure_fixture(args.scale)
    cache = check.OracleCache(
        os.path.join(
            HERE, ".cache", f"oracle-g{fixture.GENERATOR_VERSION}-sf{args.scale:g}.json"
        ),
        fixture_dir,
    )
    build_s = time.perf_counter() - b0

    run = Run(args)
    run.pin_environment()
    try:
        build_s += run.setup(fixture_dir, cache)
        cache.close()
        setup_s = time.perf_counter() - _T0 - build_s

        if args.trace:
            wall, queries = run.traced_pass()
        else:
            walls, start = [], time.perf_counter()
            while not walls or time.perf_counter() - start < args.seconds:
                walls.append(run.untraced_pass())
            wall = statistics.median(walls)
        peak = run.peak_rss_mb()
        env = run.environment(fixture_dir)
    finally:
        run.close()

    attempted = len(run.records)
    failed = sum(1 for r in run.records if r["error"])
    for r in run.records:
        status = f"FAILED: {r['error']}" if r["error"] else "ok"
        print(f"perfbench: {r['shape']:<34} {r['wall_s']:8.3f} s  {status}", file=sys.stderr)
    if args.trace:
        metrics = layer_metrics(run, queries, wall)
        metrics["failed_frac"] = failed / attempted
        metrics["peak_rss_mb"] = peak
        metrics["query_p50_s"] = statistics.median(q["wall_s"] for q in queries)
        units = {name: unit for name, unit, *_ in PER_LAYER}
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        out = os.path.join(HERE, ".out", f"trace-{args.workload}-seed{args.seed}.json")
        with open(out, "w") as f:
            json.dump(
                {
                    "run_id": run.run_id,
                    "environment": env,
                    "traced_wall_s": wall,
                    "metrics": metrics,
                    "queries": queries,
                    "spans": run.tracer.export(),
                },
                f,
                indent=1,
            )
        print(f"perfbench: trace written to {os.path.relpath(out, ROOT)}", file=sys.stderr)
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
        }
        units = {name: unit for name, unit, _ in END_TO_END}
    print(json.dumps({"environment": env, "failed_frac": failed / attempted}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    name: {"value": metrics[name], "unit": units[name]}
                    for name in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
