#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads, their queries and the layer each
one stresses are in perfbench/workloads.json. One run:

1. times set-up in this fresh process: registry import, session, and a
   first trivial Spark job;
2. builds the workload's inputs from the seed (cached per seed, untimed)
   and the answers they must give: the DuckDB oracle of every registered
   query, or an independent count and grep for the reference jobs;
3. runs one first pass over the workload's queries in the fresh session,
   then warm passes: as many as fit in S seconds at the workload's nominal
   pass time (workloads.json), at least one. The count is fixed by S, not
   by how fast this run happens to go, so every run does the same work.
   Every query result of every pass is checked;
4. with --trace 0 prints the end-to-end metrics; with --trace 1 it
   alternates traced and untraced warm passes and prints the per-layer
   metrics of the traced ones, whose spans tile each query into
   operators.build, catalyst.plan and exec.action, with Spark's job and
   stage counters read per job group.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. The full record of the run, spans included, is written
to .perfbench_work/results/.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_LIMIT_S = 150  # stop starting passes past this; the hard limit is 180 s
CONTAMINATED_CORES = 0.5  # foreign cores above which a pass is flagged
KEEP_SEEDS = 3  # input directories kept per workload

sys.path[:0] = [HERE, ROOT]  # the benchmark's modules; the program and tools/

import probes  # noqa: E402


def _median(xs):
    return statistics.median(xs) if xs else None


def _load_benchwatch():
    """mapreduce_sm_spark.benchwatch, loaded from its file so that the
    package (and pyspark) is not imported before set-up is timed."""
    path = os.path.join(ROOT, "mapreduce_sm_spark", "benchwatch.py")
    spec = importlib.util.spec_from_file_location("_perfbench_benchwatch", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _prepare_env(nslots: int) -> None:
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nslots)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # keep the JVM's temporary files in the checkout too; -XX:-UsePerfData
    # stops it writing /tmp/hsperfdata_<user>/<pid>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


# --------------------------------------------------------------------------
# set-up and tear-down
# --------------------------------------------------------------------------


def setup(tracer: probes.Tracer):
    """Fresh process until ready: registry import, session, one trivial job."""
    with tracer.span("setup"):
        with tracer.span("registry.load"):
            from mapreduce_sm_spark.registry import load_all_operators

            registry = load_all_operators()
        with tracer.span("session.get_spark"):
            from mapreduce_sm_spark.session import get_spark

            spark = get_spark("perfbench")
        with tracer.span("session.first_job"):
            spark.range(1000).count()
    times = {
        f"{name}_s": tracer.total(name)
        for name in ("setup", "registry.load", "session.get_spark", "session.first_job")
    }
    return registry, spark, times


def teardown(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# inputs and expected answers
# --------------------------------------------------------------------------


def _prune_inputs(wl_dir: str, keep: str) -> None:
    import shutil

    dirs = sorted(
        (os.path.join(wl_dir, d) for d in os.listdir(wl_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def prepare_inputs(workload: str, spec: dict, seed: int) -> tuple[str, dict]:
    import inputs

    wl_dir = os.path.join(WORK, "inputs", workload)
    os.makedirs(wl_dir, exist_ok=True)
    data_dir = os.path.join(wl_dir, f"seed{seed}")
    if "corpus" in spec["input"]:
        c = spec["input"]["corpus"]
        info = inputs.cached(
            data_dir,
            lambda d: inputs.make_corpus(
                d, seed, c["target_bytes"], c["vocab_size"], c["zipf_s"],
                c["search_share"],
            ),
        )
    else:
        t = spec["input"]["tables"]
        info = inputs.cached(
            data_dir,
            lambda d: inputs.make_tables(
                d, seed, t["scale"], t["n_docs"], tuple(t["names"])
            ),
        )
    os.utime(data_dir)
    _prune_inputs(wl_dir, data_dir)
    return data_dir, info


def _result_digest(cols, rows, date_cols) -> dict:
    from tools.verify_local import value_hash

    return {
        "rows": len(rows),
        "cols": sorted(cols),
        "hash": value_hash(cols, rows, date_cols),
    }


def oracle_answers(registry, queries, data_dir: str, names) -> dict:
    """DuckDB oracle digest per query over the generated tables, computed
    once per seed and kept next to the inputs."""
    path = os.path.join(data_dir, "oracle.json")
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    missing = [q for q in queries if q not in known]
    if missing:
        import duckdb
        from tools.verify_local import _pd_rows

        con = duckdb.connect()
        for t in names:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        for q in missing:
            sql = registry.all()[q].oracle
            odf = con.execute(sql).df()
            dates = frozenset(
                col
                for col, typ, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()
                if typ.upper() == "DATE"
            )
            known[q] = _result_digest(list(odf.columns), _pd_rows(odf), dates)
        con.close()
        with open(path + ".tmp", "w") as fh:
            json.dump(known, fh, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {q: known[q] for q in queries}


# --------------------------------------------------------------------------
# query runners
# --------------------------------------------------------------------------


class QueryTrace:
    """Per-query tracing state: the job group prefix and the open spans.
    Only built for traced passes."""

    def __init__(self, tracer: probes.Tracer, sc, group: str) -> None:
        self.tracer = tracer
        self.sc = sc
        self.group = group
        self.open: dict | None = None  # the phase span a wrapper must close

    def phase(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.group}/{name}", self.group)

    def done(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


class TableQueries:
    """Registered queries over generated fixture tables; the action is
    toPandas(), whose rows are hashed like the repository's oracle gate."""

    def __init__(self, spark, registry, data_dir: str, expected: dict) -> None:
        self.spark = spark
        self.queries = registry.all()
        self.data_dir = data_dir
        self.expected = expected
        self.written = 0  # bytes of output files; this runner writes none

    def run(self, name: str, qt: QueryTrace | None) -> tuple[float, str | None]:
        q = self.queries[name]
        if qt is None:
            t0 = time.perf_counter()
            df = q.fn(self.spark, self.data_dir)
            pdf = df.toPandas()
            wall = time.perf_counter() - t0
        else:
            tr = qt.tracer
            with tr.span("query", query=name) as qs:
                qt.phase("build")
                with tr.span("operators.build", query=name):
                    df = q.fn(self.spark, self.data_dir)
                qt.phase("plan")
                with tr.span("catalyst.plan", query=name):
                    df._jdf.queryExecution().executedPlan()
                qt.phase("action")
                with tr.span("exec.action", query=name):
                    pdf = df.toPandas()
                qt.done()
            wall = qs["end"] - qs["start"]
        return wall, self._check(name, df, pdf)

    def _check(self, name, df, pdf) -> str | None:
        from pyspark.sql.types import DateType
        from tools.verify_local import _pd_rows

        dates = frozenset(
            f.name for f in df.schema.fields if isinstance(f.dataType, DateType)
        )
        got = _result_digest(list(pdf.columns), _pd_rows(pdf), dates)
        want = self.expected[name]
        if got == want:
            return None
        return f"oracle mismatch: got {got} want {want}"


class TextJobs:
    """The reference's wordcount and string_match through the CLI contract
    functions, each writing one formatted output file."""

    def __init__(self, spark, data_dir: str, info: dict, nslots: int, task_size: int):
        self.spark = spark
        self.corpus = os.path.join(data_dir, info["path"])
        self.info = info
        self.nslots = nslots
        self.task_size = task_size
        self.out_dir = os.path.join(WORK, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.written = 0

    def run(self, name: str, qt: QueryTrace | None) -> tuple[float, str | None]:
        from mapreduce_sm_spark import __main__ as cli

        out = os.path.join(self.out_dir, f"{name}.txt")
        if os.path.exists(out):
            os.remove(out)
        if name == "wordcount":
            call = lambda: cli.run_wordcount(  # noqa: E731
                self.nslots, self.task_size, self.corpus, out
            )
        else:
            call = lambda: cli.run_string_match(  # noqa: E731
                self.nslots, self.task_size, self.info["search_word"], self.corpus, out
            )
        if qt is None:
            t0 = time.perf_counter()
            call()
            wall = time.perf_counter() - t0
        else:
            with _traced_text_layers(qt, name), qt.tracer.span("query", query=name) as qs:
                qt.phase("build")
                qt.open = qt.tracer.begin("operators.build", query=name)
                call()
                qt.tracer.end(qt.open)
                qt.done()
            wall = qs["end"] - qs["start"]
        return wall, self._check(name, out)

    def _check(self, name: str, out: str) -> str | None:
        want = self.info["expected"][name]
        try:
            with open(out, "rb") as fh:
                data = fh.read()
        except OSError as e:
            return f"no output file: {e}"
        self.written += len(data)
        os.remove(out)
        if hashlib.md5(data).hexdigest() == want["md5"]:
            return None
        n_lines = data.count(b"\n")
        return (
            f"output differs from the independent count: {len(data)} bytes, "
            f"{n_lines} lines; want {want['bytes']} bytes, {want['lines']} lines"
        )


class _traced_text_layers:
    """Wraps sources.readers.read_text and sources.sinks.write_formatted_text
    for one traced reference job. The job's build span ends where the sink
    is entered; the plan of the frame handed to the sink is forced; the
    action span covers the sink and the rest of the job (file assembly)."""

    def __init__(self, qt: QueryTrace, name: str) -> None:
        self.qt = qt
        self.name = name

    def __enter__(self):
        from mapreduce_sm_spark.sources import readers, sinks

        self.readers, self.sinks = readers, sinks
        self.read_text = readers.read_text
        self.write = sinks.write_formatted_text
        qt, name, tr = self.qt, self.name, self.qt.tracer
        read_text, write = self.read_text, self.write

        def traced_read_text(*a, **kw):
            with tr.span("sources.read_text", query=name):
                return read_text(*a, **kw)

        def traced_write(df, *a, **kw):
            tr.end(qt.open)
            qt.phase("plan")
            with tr.span("catalyst.plan", query=name):
                df._jdf.queryExecution().executedPlan()
            qt.phase("action")
            qt.open = tr.begin("exec.action", query=name)
            with tr.span("sinks.write", query=name):
                return write(df, *a, **kw)

        readers.read_text = traced_read_text
        sinks.write_formatted_text = traced_write
        return self

    def __exit__(self, *exc):
        self.readers.read_text = self.read_text
        self.sinks.write_formatted_text = self.write


# --------------------------------------------------------------------------
# passes
# --------------------------------------------------------------------------


class Passes:
    """Runs passes over a workload's queries and keeps every result."""

    def __init__(self, runner, queries, spark, tracer, bw, rss) -> None:
        self.runner = runner
        self.rss = rss
        self.queries = queries
        self.spark = spark
        self.tracer = tracer
        self.bw = bw
        self.records: list[dict] = []
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}
        self.counters = probes.SparkCounters(spark) if tracer else None

    def run(self, kind: str, traced: bool) -> None:
        n = len(self.records)
        group = f"{self.tracer.run_id}/p{n}" if traced else None
        s0 = self.bw.snapshot()
        py0 = probes.python_worker_cpu() if traced else None
        walls, errors = {}, {}
        span_start = len(self.tracer.spans) if traced else 0
        written0 = self.runner.written
        t_pass = time.perf_counter()
        for name in self.queries:
            qt = (
                QueryTrace(self.tracer, self.spark.sparkContext, f"{group}/{name}")
                if traced
                else None
            )
            self.attempted += 1
            try:
                wall, err = self.runner.run(name, qt)
            except Exception as e:  # a failing query is counted, never skipped
                wall, err = None, f"{type(e).__name__}: {str(e)[:300]}"
                if qt is not None:
                    qt.done()
            walls[name] = wall
            if err:
                errors[name] = err
                self.failures.setdefault(name, []).append(err)
            # bench.py's protocol: nothing a query cached survives into the
            # next one, and checkpoint blocks are freed by a driver GC
            self.spark.catalog.clearCache()
            self.spark._jvm.System.gc()
        elapsed = time.perf_counter() - t_pass
        s1 = self.bw.snapshot()
        foreign = None
        if s0 is not None and s1 is not None and elapsed > 0:
            foreign = self.bw.foreign_cpu(s0, s1) / elapsed
        rec = {
            "pass": n,
            "kind": kind,
            "traced": traced,
            "wall_s": sum(w for w in walls.values() if w is not None),
            "query_wall_s": walls,
            "errors": errors,
            "foreign_cores": foreign,
            "contaminated": None if foreign is None else foreign > CONTAMINATED_CORES,
            "peak_rss_bytes": self.rss.window(),
        }
        if traced:
            rec["layers"] = self._layers(group, span_start, walls, py0)
            rec["layers"]["sinks.output_bytes"] = self.runner.written - written0
        self.records.append(rec)

    def _layers(self, group, span_start, walls, py0) -> dict:
        py1 = probes.python_worker_cpu()
        spans = self.tracer.spans[span_start:]
        c = self.counters.collect(group + "/")

        def total(name, query=None):
            return sum(
                s["end"] - s["start"]
                for s in spans
                if s["name"] == name and (query is None or s.get("query") == query)
            )

        coverage = {
            q: (total("operators.build", q) + total("catalyst.plan", q)
                + total("exec.action", q)) / w
            for q, w in walls.items()
            if w
        }
        wall = sum(w for w in walls.values() if w is not None)
        all_tasks = c["tasks"]
        return {
            "operators.build_s": total("operators.build"),
            "operators.build_jobs": c["build_jobs"],
            "catalyst.plan_s": total("catalyst.plan"),
            "catalyst.plan_jobs": c["plan_jobs"],
            "exec.action_s": total("exec.action"),
            "exec.jobs": c["action_jobs"],
            "exec.stages": c["action_stages"],
            "exec.tasks": c["action_tasks"],
            "exec.all_tasks": all_tasks,
            "exec.job_busy_s": c["job_busy_s"],
            "exec.driver_gap_s": wall - c["job_busy_s"],
            "exec.executor_run_s": c["executor_run_s"],
            "exec.executor_cpu_s": c["executor_cpu_s"],
            "exec.jvm_gc_s": c["jvm_gc_s"],
            "exec.busy_cores": (
                c["executor_run_s"] / c["job_busy_s"] if c["job_busy_s"] else 0.0
            ),
            "exec.shuffle_write_bytes": c["shuffle_write_bytes"],
            "exec.shuffle_read_bytes": c["shuffle_read_bytes"],
            "exec.spill_bytes": c["spill_bytes"],
            "exec.max_task_shuffle_write_bytes": c["max_task_shuffle_write_bytes"],
            "exec.python_worker_cpu_s": probes.cpu_delta(py0, py1),
            "exec.failed_tasks": c["failed_tasks"],
            "exec.failed_task_frac": c["failed_tasks"] / all_tasks if all_tasks else 0.0,
            "sources.input_bytes": c["input_bytes"],
            "sources.input_rows": c["input_rows"],
            "sources.read_text_s": total("sources.read_text"),
            "sinks.write_stage_s": total("sinks.write"),
            "query_coverage": coverage,
            "jobs": c["jobs"],
        }


def warm_passes(passes: Passes, n: int, deadline: float, traced_mode: bool):
    """n warm passes (at least two when traced). Traced mode alternates
    traced and untraced passes. The traced pass goes first, so warm-up
    still under way counts against tracing: the overhead reported is, if
    anything, too high. Past the deadline no pass starts, except to give
    a traced run one pass of each kind."""
    for i in range(max(n, 2) if traced_mode else n):
        if i >= (2 if traced_mode else 1) and time.time() > deadline:
            break
        passes.run("warm", traced_mode and i % 2 == 0)


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def _clean(records):
    clean = [r for r in records if r["contaminated"] is False]
    return clean or records


def pass_seconds(records: list[dict]) -> float:
    """A warm pass: the sum over queries of each query's median wall across
    the passes given, so that one slow query in one pass counts once."""
    queries = records[0]["query_wall_s"]
    return sum(
        _median([r["query_wall_s"][q] for r in records if r["query_wall_s"][q]] or [0.0])
        for q in queries
    )


# End-to-end metrics in the result line. peak_rss_mb is printed too, but
# is reported in the result line only by traced runs (bench.peak_rss_mb):
# the JVM's heap growth makes it spread more than a regression bound allows.
END_TO_END = ("setup_s", "first_pass_s", "pass_s", "input_mb_per_s")


def end_to_end(passes: Passes, setup_main: dict, input_bytes: int, peak_rss: int):
    warm = _clean([r for r in passes.records if r["kind"] == "warm" and not r["traced"]])
    first = passes.records[0]
    pass_s = pass_seconds(warm)
    return {
        "setup_s": (setup_main["setup_s"], "s", 1),
        "first_pass_s": (first["wall_s"], "s", 1),
        "pass_s": (pass_s, "s", len(warm)),
        "input_mb_per_s": (input_bytes / 1e6 / pass_s, "MB/s", len(warm)),
        "peak_rss_mb": (peak_rss / 1e6, "MB", 1),
    }


PER_LAYER_UNITS = {
    "registry.load_s": "s",
    "session.get_spark_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_busy_s": "s",
    "exec.driver_gap_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.busy_cores": "cores",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.max_task_shuffle_write_bytes": "bytes",
    "exec.python_worker_cpu_s": "s",
    "exec.failed_tasks": "count",
    "exec.failed_task_frac": "ratio",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sinks.output_bytes": "bytes",
    "sinks.write_stage_s": "s",
    "bench.peak_rss_mb": "MB",
    "bench.foreign_cores": "cores",
    "bench.trace_overhead_s": "s",
    "bench.min_query_coverage": "ratio",
    "bench.failed_frac": "ratio",
}


def per_layer(passes: Passes, setup_main: dict, peak_rss: int) -> dict:
    traced = _clean([r for r in passes.records if r["traced"]])
    untraced = _clean(
        [r for r in passes.records if r["kind"] == "warm" and not r["traced"]]
    )
    out = {
        "registry.load_s": (setup_main["registry.load_s"], 1),
        "session.get_spark_s": (setup_main["session.get_spark_s"], 1),
    }
    for key in PER_LAYER_UNITS:
        if key in traced[0]["layers"]:
            out[key] = (_median([r["layers"][key] for r in traced]), len(traced))
    out["bench.peak_rss_mb"] = (peak_rss / 1e6, 1)
    foreign = [r["foreign_cores"] for r in passes.records if r["foreign_cores"] is not None]
    out["bench.foreign_cores"] = (max(foreign) if foreign else 0.0, len(foreign))
    out["bench.trace_overhead_s"] = (
        pass_seconds(traced) - pass_seconds(untraced),
        len(traced),
    )
    out["bench.min_query_coverage"] = (
        min(min(r["layers"]["query_coverage"].values()) for r in traced),
        len(traced),
    )
    out["bench.failed_frac"] = (_failed(passes) / passes.attempted, passes.attempted)
    return out


def _failed(passes: Passes) -> int:
    return sum(len(v) for v in passes.failures.values())


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def _env(spark, load1: float) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "load1_at_start": load1,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "mapreduce_sm_spark", "registry.py")):
        print(f"perfbench: no mapreduce_sm_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as fh:
        config = json.load(fh)
    if args.workload not in config["workloads"]:
        ap.error(f"--workload must be one of {sorted(config['workloads'])}")
    nslots = min(len(os.sched_getaffinity(0)), 4)
    _prepare_env(nslots)

    spec = config["workloads"][args.workload]
    bw = _load_benchwatch()
    bw.become_subreaper()
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = probes.Tracer(run_id)
    deadline = t_start + RUN_LIMIT_S
    with probes.RssSampler() as rss:
        registry, spark, setup_main = setup(tracer)
        try:
            env = _env(spark, load1)
            data_dir, info = prepare_inputs(args.workload, spec, args.seed)
            queries = spec["queries"]
            if "corpus" in spec["input"]:
                runner = TextJobs(spark, data_dir, info, nslots, spec["task_size"])
            else:
                expected = oracle_answers(
                    registry, queries, data_dir, spec["input"]["tables"]["names"]
                )
                runner = TableQueries(spark, registry, data_dir, expected)
            rss.window()  # set-up and input preparation
            passes = Passes(
                runner, queries, spark, tracer if args.trace else None, bw, rss
            )
            passes.run("first", False)
            n_warm = max(1, round(args.seconds / spec["nominal_pass_s"]))
            warm_passes(passes, n_warm, deadline, bool(args.trace))
        finally:
            teardown(spark)
    probes.reap_children(30)

    failed = _failed(passes)
    e2e = end_to_end(passes, setup_main, info["bytes"], rss.peak_bytes)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "input": info,
        "setup": setup_main,
        "passes": passes.records,
        "failures": passes.failures,
        "end_to_end": e2e,
    }
    lines = [
        f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"queries={','.join(queries)}",
        "# env " + " ".join(f"{k}={v}" for k, v in env.items()),
        "# input " + _describe_input(info),
    ]
    for q in queries:
        errs = passes.failures.get(q, [])
        n = sum(1 for r in passes.records if q in r["query_wall_s"])
        lines.append(
            f"# check {q}: {'ok' if not errs else 'FAILED'} "
            f"({n - len(errs)}/{n} passes){': ' + errs[0] if errs else ''}"
        )
    dirty = sum(1 for r in passes.records if r["contaminated"])
    lines.append(
        f"# passes {len(passes.records)} (contaminated: {dirty}); "
        f"failed_frac {failed / passes.attempted:.4f} ({failed}/{passes.attempted})"
    )
    for k, (v, unit, n) in e2e.items():
        lines.append(f"# metric {k} {v:.6g} {unit} (n={n})")
    if args.trace:
        layers = per_layer(passes, setup_main, rss.peak_bytes)
        record["per_layer"] = layers
        record["spans"] = tracer.spans
        for k, (v, n) in layers.items():
            lines.append(f"# layer {k} {v:.6g} {PER_LAYER_UNITS[k]} (n={n})")
        metrics = {
            k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, (v, n) in layers.items()
        }
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    lines.append(f"# record {os.path.relpath(path, ROOT)}")
    print("\n".join(lines))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": passes.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _describe_input(info: dict) -> str:
    if info["kind"] == "corpus":
        return (
            f"corpus {info['bytes']} bytes, {info['lines']} lines, "
            f"{info['words']} words, vocab {info['vocab_size']} "
            f"({info['distinct_words']} used), zipf_s {info['zipf_s']}, "
            f"search word {info['search_word']!r} planted in "
            f"{info['search_share']:.1%} of lines "
            f"({info['expected']['string_match']['lines']} matching)"
        )
    rows = ", ".join(f"{t} {n}" for t, n in info["rows"].items())
    return f"tables scale {info['scale']} ({info['bytes']} bytes): {rows}"


if __name__ == "__main__":
    sys.exit(main())
