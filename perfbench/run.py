"""whale-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload etl_process --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
inside ``.perfbench_work/`` (removed on exit), outputs are checked
against the generator's ground truth or a DuckDB twin of each query, and
the last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Details (samples, load average, contention flag, mismatches) go to
stderr as one ``perfbench-detail`` JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: rows of the full load (pruned away by the window's date bounds, and
#: the star the window is upserted into in traced runs), and of the
#: README-sized window itself (the reference logs 5,222 rows)
FULL_ROWS = 5_000
WINDOW_ROWS = 5_000
#: the query mix, from q01-q47: the members that reuse the pipeline's
#: operators (q05 the dedup, q09 the date-validity flags, q10 the date
#: cascade, q28 the spatial join), plus two planning- and job-bound ones
#: (q01 scan-filter-project, q39 quantiles) that run faster than those
#: four, and the notebook pair over the star, which runs slower. With two
#: kinds below and two above, the median of the pooled latencies falls
#: inside the block of the operator queries, not at a gap between kinds
QUERY_SET = (
    "q01_filter_project", "q05_dedup_keep_first", "q09_date_validity",
    "q10_split_dates", "q28_spatial_join", "q39_quantiles",
)
NOTEBOOK = "notebook_sightings_per_year"
#: rows of a query's result compared with its DuckDB twin, where not all:
#: q10's twin runs the date cascade row by row, which over all of
#: lineitem takes longer than the query itself, so a tenth of its rows,
#: chosen by the seed, is compared; the other runs' seeds cover the rest
CHECK_SUBSET = {"q10_split_dates": "order_key % 10 = {k}"}
#: warm rounds over the mix per run, at least (more while ``--seconds``
#: has not passed); the cold round is part of set-up
MIN_ROUNDS = 3
#: run id of the traced query run's own ETL pass, so the pipeline's
#: counters come from a real pass on every workload
QUERY_RUN_PASS = -2
#: run id of the traced run's layer probe
PROBE_RUN = -1
#: queries timed by the traced run's query probe: those that reuse the
#: pipeline's dedup, date and spatial operators
QUERY_PROBE = ("q05_dedup_keep_first", "q10_split_dates", "q28_spatial_join")

WORKLOADS = ("etl_process", "query_mix")


# --------------------------------------------------------------------------
# host: hermetic environment, orphan JVMs, memory and load
# --------------------------------------------------------------------------

def hermetic_env(work: str) -> dict:
    """Point every scratch location of Spark and the program into the
    run's own directory and size the session to this host."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # a quarter of RAM, at most 2 GiB: the inputs are small, and the
    # host may be shared
    driver_mem = f"{max(1024, min(2048, mem_mb // 4))}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    settings = {
        # keep the JVM's scratch files (native libraries, perf data) out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(settings)
    tempfile.tempdir = tmp
    return settings


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command line) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, IndexError, ValueError):
            continue
        table[int(name)] = (ppid, cmd)
    return table


def reap_orphans() -> list[int]:
    """Kill Spark JVMs left behind by killed runs of this benchmark:
    SparkSubmit processes re-parented to init whose working directory is
    under this checkout's work root. Also drop their work directories."""
    killed = []
    for pid, (ppid, cmd) in _proc_table().items():
        if ppid != 1 or "org.apache.spark.deploy.SparkSubmit" not in cmd:
            continue
        try:
            cwd = os.readlink(f"/proc/{pid}/cwd")
        except OSError:
            continue
        if cwd.startswith(WORK_ROOT):
            try:
                os.kill(pid, signal.SIGKILL)
                killed.append(pid)
            except OSError:
                pass
    for pid in killed:
        while os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)
    if os.path.isdir(WORK_ROOT):
        for name in os.listdir(WORK_ROOT):
            if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
                shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)
    return killed


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, Spark JVM, Python workers), sampled every 0.2 s."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> float:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total / 2**20

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.peak_mb = max(self.peak_mb, self._sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

def start_session(event_log: str | None):
    from whale_sightings_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="whale-spark-perfbench", extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def make_inputs(workload: str, seed: int, d: str, traced: bool) -> dict:
    """Generate every input of one run into directory ``d``."""
    import gen_raw
    import gen_tables
    from whale_sightings_spark.sources.ddl import star_schema_ddl

    os.makedirs(d)
    gen = gen_raw.RawZoneGenerator(seed)
    full, window = gen.generate(FULL_ROWS, WINDOW_ROWS)
    paths = {
        "dir": d,
        "raw": os.path.join(d, "raw"),
        "oceans": os.path.join(d, "oceans.json"),
        "snapshot": os.path.join(d, "snapshot.db"),
        "tables": os.path.join(d, "tables"),
        "star": os.path.join(d, "star"),
        "startdate": gen_raw.INCREMENTAL_STARTDATE,
        "enddate": f"{gen_raw.INCREMENTAL_FILE_YEARS[1]}-12-31",
        "full": full,
        "window": window,
    }
    if workload == "etl_process" or traced:
        gen_raw.write_batch(full, paths["raw"])
        gen_raw.write_batch(window, paths["raw"])
        gen_raw.write_oceans(gen.oceans, paths["oceans"])
    if traced:
        gen_raw.write_star_sqlite([full], paths["snapshot"], star_schema_ddl("sqlite"))
    if workload == "query_mix" or traced:
        gen_tables.write_tables(gen_tables.make_tables(seed), paths["tables"])
        gen_raw.write_star_parquet([full], paths["star"])
    return paths


def warm_up(spark) -> None:
    """A small generic shuffle job, so the first timed operation does
    not also pay for the JVM's first Spark job."""
    spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def setup(workload: str, seed: int, work: str, event_log: str | None, traced: bool):
    """Start the session (launching the JVM), generate the inputs and
    warm up: on ``query_mix`` with the checked cold round over the mix,
    elsewhere with a generic job. Returns the session, the inputs, the
    set-up time (the cold round's output checks excluded) and the cold
    round's (name, seconds) and failures."""
    t = time.perf_counter()
    spark = start_session(event_log)
    d = make_inputs(workload, seed, os.path.join(work, "inputs"), traced)
    cold, failed, check_s = [], {}, 0.0
    if workload == "query_mix":
        cold, failed, check_s = cold_round(spark, d, seed)
    else:
        warm_up(spark)
    return spark, d, time.perf_counter() - t - check_s, cold, failed


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

def etl_pass(spark, tracer, d: dict, run: int):
    """One CLI ``process`` pass over the README-sized window, timed and
    checked against the generator's ground truth. Returns the seconds,
    the mismatches and the pipeline's result (None if the pass failed)."""
    import etl

    out = os.path.join(d["dir"], "out")
    shutil.rmtree(out, ignore_errors=True)
    tracer.run = run
    t = time.perf_counter()
    try:
        result = etl.process_pass(spark, tracer, d["raw"], d["oceans"], out,
                                  d["startdate"], d["enddate"])
    except Exception as e:  # a failing pass is counted, not fatal
        return time.perf_counter() - t, [f"{type(e).__name__}: {str(e)[:200]}"], None
    seconds = time.perf_counter() - t
    return seconds, etl.check_curated(out, d["window"].truth()), result


def run_etl(spark, tracer, d: dict, seconds: float):
    """Process passes until ``seconds`` have passed (at least one).
    Returns the seconds of each pass, the mismatches found and the
    pipeline result of the last pass."""
    ops, problems = [], []
    t_end = time.perf_counter() + seconds
    while True:
        op, found, result = etl_pass(spark, tracer, d, len(ops))
        ops.append(op)
        problems += [f"pass {len(ops)}: {p}" for p in found]
        if time.perf_counter() >= t_end:
            return ops, problems, result


def query_fns():
    from whale_sightings_spark.plans.queries import queries

    return queries()


def query_df(spark, name: str, d: dict, qfns: dict):
    """The DataFrame of one query of the mix."""
    import probe

    if name == NOTEBOOK:
        return probe.notebook_query(probe.read_star(spark, d["star"]))
    return qfns[name](spark, d["tables"])


def cold_round(spark, d: dict, seed: int):
    """The mix once, in QUERY_SET order so every run compiles the same
    queries first, each result written to parquet and checked against
    its DuckDB twin (the notebook pair also against the generated
    per-year counts). Returns (name, seconds) per query, the failed
    query names with their reasons, and the seconds spent checking."""
    import checks
    from whale_sightings_spark.plans.queries import oracle_sql

    qfns, oracles = query_fns(), oracle_sql()
    out = os.path.join(d["dir"], "results")
    con = checks.duckdb_views(d["tables"], d["star"])
    ops: list[tuple[str, float]] = []
    failed: dict[str, str] = {}
    check_s = 0.0
    try:
        for name in list(QUERY_SET) + [NOTEBOOK]:
            path = os.path.join(out, name)
            t = time.perf_counter()
            try:
                query_df(spark, name, d, qfns).write.mode("overwrite").parquet(path)
            except Exception as e:  # a failing query is counted, not fatal
                failed[name] = f"{type(e).__name__}: {str(e)[:200]}"
            ops.append((name, time.perf_counter() - t))
            if name in failed:
                continue
            t = time.perf_counter()
            notebook = name == NOTEBOOK
            where = CHECK_SUBSET.get(name, "TRUE").format(k=seed % 10)
            msg = checks.compare(con, path, checks.NOTEBOOK_SQL if notebook else oracles[name],
                                 where)
            if notebook and not msg and dict(con.execute(
                    "SELECT date, num_sightings FROM spark_out").fetchall()) != \
                    d["full"].truth()["valid_per_year"]:
                msg = "per-year counts differ from the generated truth"
            if msg:
                failed[name] = msg
            check_s += time.perf_counter() - t
    finally:
        con.close()
    return ops, failed, check_s


def run_queries(spark, tracer, d: dict, seconds: float, seed: int):
    """Closed loop, one client: warm rounds over the mix, each in a new
    seeded order, each query run through the noop sink (the whole plan
    executes, no rows reach the client), for MIN_ROUNDS rounds and at
    least ``seconds``. Returns (name, seconds) per execution and the
    names of queries that raised, with their reasons."""
    import probe

    qfns = query_fns()
    ops: list[tuple[str, float]] = []
    failed: dict[str, str] = {}
    rng = random.Random(seed)
    names = list(QUERY_SET) + [NOTEBOOK]
    t_end = time.perf_counter() + seconds
    rounds = 0
    while rounds < MIN_ROUNDS or time.perf_counter() < t_end:
        rng.shuffle(names)
        for name in names:
            tracer.run = len(ops)
            t = time.perf_counter()
            try:
                with tracer.span("plans.notebook.execute" if name == NOTEBOOK
                                 else "plans.queries.execute"):
                    probe.noop(query_df(spark, name, d, qfns))
            except Exception as e:  # a failing query is counted, not fatal
                failed[name] = f"{type(e).__name__}: {str(e)[:200]}"
            ops.append((name, time.perf_counter() - t))
        rounds += 1
    return ops, failed


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def per_layer(tracer, counters, extra: dict, qprobe: dict, pass_run: int,
              ops: list[float]) -> dict[str, float]:
    """Fold spans, event-log counters and probe values into the
    per-layer metrics. ``pass_run`` is the run id of the real (not
    materialized) process pass the pipeline's figures come from."""
    import eventlog

    spans = {s.id: s for s in tracer.spans}

    def span_counters(pred) -> "eventlog.Counters":
        total = eventlog.Counters()
        for desc, c in counters.items():
            if desc and "#" in desc:
                s = spans.get(int(desc.rsplit("#", 1)[1]))
                if s is not None and pred(s):
                    total.add(c)
        return total

    def med(name: str, run: int | None = None) -> float:
        return statistics.median(s.seconds for s in tracer.spans
                                 if s.name == name and (run is None or s.run == run))

    pipeline = span_counters(lambda s: s.run == pass_run)
    # bytes-read counters of a multi-line JSON scan are a fixed multiple
    # of the file size, so one scan is calibrated by the probe's single
    # scan of the same files
    one_scan_mb = span_counters(lambda s: s.run == PROBE_RUN
                                and s.name == "sources.files.scan").input_mb
    loop = span_counters(lambda s: s.run >= 0)
    dedup = span_counters(lambda s: s.name == "operators.clean.dedup")
    queries = span_counters(lambda s: s.run == PROBE_RUN and s.name == "plans.queries.execute")
    n_q = max(1, len(qprobe["exec"]))
    load_s = med("sources.ddl.load_star_schema")
    join_s = med("operators.spatial.join")
    return {
        "sources.files.raw_scan_replays": pipeline.input_mb / one_scan_mb,
        "sources.files.scan_s": med("sources.files.scan"),
        "sources.files.write_curated_s": med("sources.files.write_curated_parquet", pass_run),
        "sources.files.write_errors_s": med("sources.files.write_error_json", pass_run),
        "operators.validate.split_s": med("operators.validate.split"),
        "functions.dates.parts_s": med("functions.dates.parts"),
        "operators.clean.repair_s": med("operators.clean.repair"),
        "operators.clean.dedup_s": med("operators.clean.dedup"),
        "operators.clean.fill_s": med("operators.clean.fill"),
        "operators.clean.dedup_shuffle_mb": dedup.shuffle_write_mb,
        "operators.spatial.join_s": join_s,
        "operators.spatial.points_per_s": extra["operators.spatial.rows"] / join_s,
        "operators.dims.star_s": med("operators.dims.star"),
        "sources.ddl.load_s": load_s,
        "sources.ddl.rows_per_s": extra["sources.ddl.rows"] / load_s,
        "sources.ddl.conflict_share": extra["sources.ddl.conflict_share"],
        "plans.pipeline.run_s": med("plans.pipeline.run_pipeline", pass_run),
        "plans.pipeline.plan_s": extra["plans.pipeline.plan_s"],
        "plans.pipeline.jobs": pipeline.jobs,
        "plans.pipeline.stages": pipeline.stages,
        "plans.pipeline.tasks": pipeline.tasks,
        "plans.queries.plan_s": statistics.median(qprobe["plan"]),
        "plans.queries.exec_s": statistics.median(qprobe["exec"]),
        "plans.queries.jobs": queries.jobs / n_q,
        "plans.queries.shuffle_mb": queries.shuffle_write_mb / n_q,
        "plans.notebook.s": qprobe["notebook"][0],
        "session.executor_cpu_s": loop.executor_cpu_s,
        "session.gc_s": loop.gc_s,
        "session.peak_exec_memory_mb": loop.peak_exec_memory_mb,
        "session.shuffle_write_mb": loop.shuffle_write_mb,
        "trace.latency_p50_s": statistics.median(ops),
    }


#: metric-name suffix -> unit, most specific first
UNITS = (("_per_s", "1/s"), ("_share", "share"), ("_replays", "ratio"), ("_mb", "MB"),
         ("_s", "s"), (".s", "s"), (".jobs", "count"), (".stages", "count"),
         (".tasks", "count"))


def unit_of(name: str) -> str:
    return next(unit for suffix, unit in UNITS if name.endswith(suffix))


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "whale_sightings_spark", "__init__.py")):
        print("perfbench: run from the root of a whale-spark checkout "
              "(whale_sightings_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    killed = reap_orphans()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work)
    settings = hermetic_env(work)
    load_start = os.getloadavg()
    os.chdir(work)
    traced = bool(args.trace)
    event_log = os.path.join(work, "eventlog") if traced else None
    spark = None
    detail: dict = {"workload": args.workload, "seed": args.seed, "settings": settings,
                    "orphans_killed": killed, "loadavg_start": load_start}
    try:
        with RssSampler() as rss:
            spark, d, setup_s, cold, wrong = setup(args.workload, args.seed, work,
                                                    event_log, traced)
            from tracing import Tracer

            tracer = Tracer(spark, enabled=traced)
            if args.workload == "etl_process":
                ops, problems, result = run_etl(spark, tracer, d, args.seconds)
                attempted, failed = len(ops), (len(ops) if problems else 0)
            else:
                named, raised = run_queries(spark, tracer, d, args.seconds, args.seed)
                wrong.update(raised)
                ops = [t for _, t in named]
                # every execution of a query found wrong or raising counts
                attempted = len(cold) + len(named)
                failed = sum(1 for n, _ in cold + named if n in wrong)
                problems = [f"{k}: {v}" for k, v in wrong.items()]
                detail.update(cold_round=cold, queries=named)
            detail.update(samples=len(ops), ops_s=ops, setup_s=setup_s,
                          problems=problems[:20])
            if traced:
                import probe

                pass_run = len(ops) - 1
                if args.workload == "query_mix":
                    # a real pass, so the pipeline's figures mean the same
                    # on both workloads; it is one more checked operation
                    pass_run = QUERY_RUN_PASS
                    _, found, result = etl_pass(spark, tracer, d, pass_run)
                    attempted += 1
                    failed += 1 if found else 0
                    detail["problems"] += found
                if result is None:
                    raise RuntimeError("the process pass failed; no per-layer figures")
                tracer.run = PROBE_RUN
                extra, star_problems = probe.etl_layers(spark, tracer, d, result)
                qprobe = probe.query_layers(spark, tracer, list(QUERY_PROBE), query_fns(), d)
                # the probe's star load is one more checked operation
                attempted += 1
                failed += 1 if star_problems else 0
                detail["problems"] += star_problems
            peak_rss = rss.peak_mb
        stop_jvm(spark)
        spark = None
        if traced:
            import eventlog

            metrics = per_layer(tracer, eventlog.parse(event_log), extra, qprobe,
                                pass_run, ops)
            trace_dir = os.path.join(WORK_ROOT, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": setup_s,
                "latency_p50_s": statistics.median(ops),
                "ops_per_s": len(ops) / sum(ops),
                "peak_rss_mb": peak_rss,
            }
    finally:
        if spark is not None:
            stop_jvm(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()
    cpus = len(os.sched_getaffinity(0))
    detail.update(loadavg_end=load_end, peak_rss_mb=peak_rss,
                  contended=max(load_start[0], load_start[1]) > cpus)
    print("perfbench-detail " + json.dumps(detail), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
