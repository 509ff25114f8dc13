"""Layer-attributed benchmark of the query suite.

One driver process runs one named workload as a closed loop with one
client: queries run one after another on ``local[$SPARK_GRAFT_CPUS]``
(default: half the CPUs this process may use), each as
``queries()[name](spark, sf_dir)`` then ``collect()``, and every result
is checked against the query's DuckDB ``oracle_sql()``.

    python3 perfbench/run.py --workload geogrid --seed 1 --seconds 5 --trace 0

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import time


def cpu_times() -> list[int]:
    """The machine's CPU counters (user .. steal, in ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


T_PROCESS = time.perf_counter()  # before the heavy imports: set-up starts here
CPU_PROCESS = cpu_times()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import socket  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "wrf_to_geodataframe_spark"

# name -> (why, timed queries, further queries).  The names are stable:
# later changes cite them.  A run times the first list; --all-queries
# adds the second.  The split keeps a run (start-up, one cold warm-up
# pass, three timed passes, shut-down) at about 40-55 s on a 4-vCPU host.
WORKLOADS = {
    "geogrid": (
        "the paper's grid-to-Voronoi, daily-stats and conservative-regrid "
        "pipelines: eager builds, geometry kernels in Python workers, the "
        "sink write path; little shuffle",
        [
            "flagship_daily_cell_stats", "capstone_wrf_voronoi",
            "g1_voronoi_rect_cells", "regrid_conservative",
        ],
        [
            "s6_wrf_getvar",
            "capstone_haduk_voronoi", "capstone_wrf_regrid",
            "g1_tessellation_conservation", "g1_curvilinear_conservation",
            "g1_auto_dispatch", "g7_clipped_cell_areas",
            "regrid_conservative_general", "regrid_conservative_equalarea",
            "j4_concave_overlay", "s14_interplevel_field", "m14_cape_3d",
            "m15_getvar_helicity", "m17_storm_screen",
        ],
    ),
    "dedup_graph": (
        "iterative dedup and graph queries: over a hundred Spark jobs per "
        "pass, so scheduling, shuffle and eager builders dominate; no pandas UDFs",
        ["graph_pagerank_dangling", "dedup_minhash_lsh"],
        [
            "bm25_topk", "dedup_cluster_cc", "pipeline_split_neardup_safe",
            "graph_pagerank", "pipeline_curate_v3", "dedup_embedding_cosine",
            "bpe_train",
        ],
    ),
    "decode_ingest": (
        "the read path: from-scratch decoders in Python workers, Arrow "
        "transfer and result fetch, 1-3 jobs per query and almost no shuffle",
        [
            "multimodal_decode_webp", "multimodal_decode_jpeg", "s1_zarr_ingest",
            "s1_geotiff_ingest", "c4_cast_float32",
        ],
        [
            "multimodal_decode_formats", "multimodal_decode_tiff",
            "multimodal_decode_gif", "video_scene_cuts", "s1_grib2_ingest",
            "s1_netcdf_dir_ingest", "s1_npy_ingest",
        ],
    ),
}
SCALES = ("0.001", "0.01")
TIMED_PASSES = 3
MB = 1024 * 1024


def _proc_stat(pid: int | str) -> tuple[int, int] | None:
    """(ppid, start time in ticks) of a live process, or None once it has
    ended (a zombie has ended: it only waits to be reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if rest[0] == "Z" else (int(rest[1]), int(rest[19]))


class ProcessTree:
    """Samples the summed RSS of this process and all its descendants
    (the JVM and the Python workers) and remembers every process seen,
    so shutdown can wait for each one to end."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_bytes = 0
        self.peak_by_kind: dict[str, int] = {}  # driver / jvm / python_workers
        self.seen: dict[int, int] = {}  # pid -> start ticks
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _proc_stat(d)
                if st is not None:
                    children.setdefault(st[0], []).append(int(d))
                    if st[0] in self.seen or st[0] == os.getpid():
                        self.seen.setdefault(int(d), st[1])
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def sample(self) -> None:
        by_kind: dict[str, int] = {}
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except (OSError, IndexError, ValueError):
                continue
            kind = ("driver" if pid == os.getpid() else
                    "jvm" if comm == "java" else "python_workers")
            by_kind[kind] = by_kind.get(kind, 0) + rss
        self.peak_bytes = max(self.peak_bytes, sum(by_kind.values()))
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0), v)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def wait_all_ended(self, timeout: float) -> None:
        """Wait for every process seen to end; kill what outlives ``timeout``."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:  # reap our ended children
                    pass
            except ChildProcessError:
                pass
            alive = [p for p, t in self.seen.items()
                     if p != os.getpid() and (_proc_stat(p) or (0, None))[1] == t]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)


def steal_frac(a: list[int], b: list[int]) -> float:
    """Share of the busy CPU time between two /proc/stat reads that the
    hypervisor stole: ticks a vCPU had work but was not run (an idle vCPU
    is never stolen from, so idle time does not dilute the share)."""
    d = [y - x for x, y in zip(a, b)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]  # user nice system irq softirq steal
    return d[7] / busy if busy > 0 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def provenance(args, spark) -> dict:
    def git(*cmd):
        try:
            r = subprocess.run(["git", "-C", ROOT, *cmd], capture_output=True,
                               text=True, timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout.strip() if r.returncode == 0 else None

    status = git("status", "--porcelain")
    return {
        "host": socket.gethostname(),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_sha": git("rev-parse", "HEAD"),
        "git_dirty": None if status is None else bool(status),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "sf": float(args.sf),
        "seed": args.seed,
        "workload": args.workload,
        "run_index": args.run_index,
        "trace": args.trace,
        "all_queries": args.all_queries,
        "seconds": args.seconds,
    }


def rows_to_pandas(rows, schema, timezone: str):
    """The collected rows as pandas, typed the way ``toPandas`` types them."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in schema.fields]
    if not rows:
        return pd.DataFrame(columns=names)
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=names)
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType, f.nullable, timezone=timezone, struct_in_pandas="dict",
                error_on_duplicated_field_names=False, timestamp_utc_localized=False,
            )(pser)
            for (_, pser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def oracle_frames(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for fname in sorted(os.listdir(sf_dir)):
            if fname.endswith(".parquet"):
                p = os.path.join(sf_dir, fname)
                con.execute(f"CREATE VIEW {fname[:-8]} AS SELECT * FROM '{p}'")
        return {n: con.execute(oracles[n]).df() for n in names}
    finally:
        con.close()


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Bench:
    """Runs the workload's queries one after another and keeps a record
    of each execution."""

    def __init__(self, args, spark, sf_dir: str, tmp_dir: str) -> None:
        import __spark_entry__ as entry
        from tools.check import compare

        self.spark = spark
        self.sf_dir = sf_dir
        self.tmp_dir = tmp_dir
        self.compare = compare
        _why, timed, further = WORKLOADS[args.workload]
        self.names = timed + further if args.all_queries else timed
        self.fns = {n: entry.queries()[n] for n in self.names}
        self.oracle_sql = entry.oracle_sql()
        self.expected: dict = {}
        self.rng = random.Random(args.seed)
        self.timezone = spark.conf.get("spark.sql.session.timeZone")
        self.n_pass = 0

    def order(self) -> list[str]:
        """The workload's queries in a fresh seeded order: one pass."""
        self.n_pass += 1
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def check(self, name: str, df, rows) -> str | None:
        """None if the rows equal the oracle's bit for bit, else why not."""
        if name not in self.expected:
            return "no oracle"
        got = rows_to_pandas(rows, df.schema, self.timezone)
        issues = self.compare(name, got, self.expected[name])
        return "; ".join(issues) if issues else None

    def run_query(self, name: str, checked: bool = True, tracer=None, stores=None) -> dict:
        """Build, plan and collect one query; check its rows; with a
        tracer, also record its spans and per-layer metrics."""
        from layers import QueryTrace

        sc = self.spark.sparkContext
        group = f"perfbench:{self.n_pass}:{name}"
        sc.setJobGroup(group, f"{name} (pass {self.n_pass})")
        rec: dict = {"query": name, "pass": self.n_pass}
        qt = QueryTrace(name) if tracer is not None else None
        tmp0 = dir_bytes(self.tmp_dir) if qt is not None else 0
        cpu0 = cpu_times()
        t0 = time.perf_counter()
        try:
            if qt is None:
                df = self.fns[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                rows = df.collect()
                t3 = time.perf_counter()
            else:
                rows, df, (t1, t2, t3), sids = self._traced(name, qt, tracer)
            cpu3 = cpu_times()
        except Exception as ex:  # a failing query must not stop the run
            rec["error"] = f"{type(ex).__name__}: {ex}"[:2000]
        else:
            # latency: the wall less the share the hypervisor stole from
            # the busy vCPUs meanwhile (see README, "Host noise")
            stolen = rec["host.steal_frac"] = steal_frac(cpu0, cpu3)
            rec.update(latency_s=(t3 - t0) * (1.0 - stolen), raw_wall_s=t3 - t0,
                       build_s=t1 - t0, plan_s=t2 - t1, run_s=t3 - t2, rows=len(rows))
            why = self.check(name, df, rows) if checked else None
            if why is not None:
                rec["error"] = f"wrong result: {why}"[:2000]
                del rec["latency_s"]
            if qt is not None:
                stores.record(qt, group, sids[0], sids[1], qt.spans[sids[1]].end)
                rec["layers"] = qt.metrics()
                rec["layers"]["sources.tmp_bytes"] = dir_bytes(self.tmp_dir) - tmp0
                rec["layers"]["result.rows"] = len(rows)
                rec["spans"] = qt.to_json(f"{self.n_pass}:{name}")
        finally:
            sc.setJobGroup("perfbench:idle", "between queries")
            # queries persist intermediates; drop them so each query
            # runs from the same state whatever ran before it
            self.spark.catalog.clearCache()
        rec.setdefault("host.steal_frac", steal_frac(cpu0, cpu_times()))
        return rec

    def _traced(self, name, qt, tracer):
        q = qt.open("query", "query")
        tracer.current = qt
        try:
            build = qt.open("suite.build", "suite.build")
            try:
                df = self.fns[name](self.spark, self.sf_dir)
            finally:
                qt.close(build)
            t1 = time.perf_counter()
            sid = qt.open("spark.plan", "spark.plan")
            try:
                df._jdf.queryExecution().executedPlan()
            finally:
                qt.close(sid)
            t2 = time.perf_counter()
            run = qt.open("spark.run", "spark.run")
            try:
                rows = df.collect()
            finally:
                qt.close(run)
            t3 = time.perf_counter()
        finally:
            tracer.current = None
            qt.close(q)
        return rows, df, (t1, t2, t3), (build, run)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True,
                   help="permutes the query order of every pass")
    p.add_argument("--seconds", type=float, required=True,
                   help=f"the timed window runs {TIMED_PASSES} whole passes, then "
                        "more while fewer than this many seconds have passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0,
                   help="0: end-to-end metrics; 1: per-layer metrics from a traced pass")
    p.add_argument("--sf", choices=SCALES, default="0.01",
                   help="scale factor of the bundled input tables")
    p.add_argument("--all-queries", action="store_true",
                   help="also run the workload's queries left out of the timed set")
    p.add_argument("--artifact", default=None,
                   help="write the full record (provenance, samples, spans) here")
    p.add_argument("--run-index", type=int, default=0,
                   help="recorded in the artifact to tell repeated runs apart")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its temp directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (os.path.isdir(os.path.join(ROOT, PKG))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        print(f"perfbench: the package ({PKG}/, __spark_entry__.py, tools/check.py) "
              f"is not in {ROOT}", file=sys.stderr)
        return 2

    # every file the run writes (suite fixtures and sinks, Spark's local
    # dirs, the JVM's temp files) lands under one per-run directory
    run_dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-",
                               dir=_mkdirs(os.path.join(ROOT, ".perfbench-tmp")))
    tmp_dir = _mkdirs(os.path.join(run_dir, "tmp"))
    os.environ.update(
        TMPDIR=tmp_dir,
        SPARK_LOCAL_DIRS=_mkdirs(os.path.join(run_dir, "spark-local")),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={_mkdirs(os.path.join(run_dir, 'jvm-tmp'))}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    # half the CPUs run tasks: the other half keep the driver, the JVM's
    # own threads and the Python workers off the task threads' vCPUs
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]

    procs = ProcessTree()
    procs.start()
    state: dict = {}
    try:
        result = _run(args, run_dir, tmp_dir, procs, state)
    finally:
        _shutdown(state.get("spark"), procs)
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.artifact:
        with open(args.artifact, "w") as f:
            json.dump(result["artifact"], f, indent=1, sort_keys=True)
            f.write("\n")
    for line in result["lines"]:
        print(line)
    print(json.dumps(result["contract"], sort_keys=True), flush=True)
    return 0


def _mkdirs(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


def _run(args, run_dir, tmp_dir, procs, state):
    from layers import SparkStores, Tracer
    from wrf_to_geodataframe_spark.session import get_spark, load_table

    sf_dir = os.path.join(HERE, "data", f"sf{args.sf}")
    phases = {"imports": time.perf_counter() - T_PROCESS}
    t_session = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })
    get_spark_s = phases["get_spark"] = time.perf_counter() - t_session
    state["spark"] = spark
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    bench = Bench(args, spark, sf_dir, tmp_dir)
    phases["suite_import"] = time.perf_counter() - t

    # the DuckDB side is harness work: computed once and kept out of set-up
    t_oracle = time.perf_counter()
    bench.expected = oracle_frames(sf_dir, [n for n in bench.names if n in bench.oracle_sql],
                                   bench.oracle_sql)
    oracle_s = time.perf_counter() - t_oracle

    # one unchecked warm-up pass: table footers, the Python worker pool
    # and the JIT compilation of every query are done before timing
    t = time.perf_counter()
    warmup = [bench.run_query(n, checked=False) for n in bench.order()]
    phases["warmup_pass"] = time.perf_counter() - t
    steal0 = cpu_times()
    setup_wall_s = time.perf_counter() - T_PROCESS - oracle_s
    setup_steal = steal_frac(CPU_PROCESS, steal0)
    setup_s = setup_wall_s * (1.0 - setup_steal)

    tracer, n_wrapped = None, 0
    if args.trace:
        # one traced pass in place of the timed window
        tracer = Tracer()
        n_wrapped = tracer.install()
        stores = SparkStores(spark)
        records = [bench.run_query(n, tracer=tracer, stores=stores) for n in bench.order()]
    else:
        # the timed window: TIMED_PASSES whole passes, then more while
        # fewer than --seconds have passed; each pass in a fresh seeded
        # order, so every query of the workload has the same number of
        # samples and, at the configured --seconds, every run times the
        # same number of passes (the JIT keeps warming from pass to pass)
        t_window = time.perf_counter()
        records, passes = [], 0
        while passes < TIMED_PASSES or time.perf_counter() - t_window < args.seconds:
            records += [bench.run_query(n) for n in bench.order()]
            passes += 1
    run_steal = steal_frac(steal0, cpu_times())
    procs.sample()

    samples: dict[str, list[float]] = {n: [] for n in bench.names}
    for r in records:
        if "latency_s" in r:
            samples[r["query"]].append(r["latency_s"])
    # each query's wall is its best timed execution (the repository's
    # min-of-passes protocol): host noise only ever adds time
    best = sorted(min(v) for v in samples.values() if v)
    failures = [r for r in records if "error" in r]
    attempted, failed = len(records), len(failures)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(best), "s"),
        "query_p50_s": (percentile(best, 50) if best else 0.0, "s"),
        "query_p90_s": (percentile(best, 90) if best else 0.0, "s"),
    }
    lines = [f"{k} = {v:.4f} {u}" for k, (v, u) in e2e.items()]
    n_timed = len({r["pass"] for r in records})
    lines.append(f"  (per-query walls: {len(best)} queries, each the best of {n_timed} "
                 f"timed passes; every time is its wall less the share stolen by the "
                 f"hypervisor, which was {setup_steal:.3f} of the busy CPU time in "
                 f"set-up and {run_steal:.3f} after it; uncorrected: setup "
                 f"{setup_wall_s:.4f} s, best walls sum {_best_raw(records):.4f} s)")
    lines.append(f"peak_rss_mb = {procs.peak_bytes / MB:.4f} MB")
    lines.append(f"fail_frac = {failed / attempted:.4f} ({failed} of {attempted})")
    lines += [f"FAIL pass {r['pass']} {r['query']}: {r['error'][:300]}" for r in failures]
    if tracer is not None:
        per_layer = _layer_totals(records)
        per_layer["host.steal_frac"] = run_steal
        per_layer["trace.overhead_frac"] = tracer.own_s / sum(
            r.get("raw_wall_s", 0.0) for r in records)
        per_layer["session.get_spark_s"] = get_spark_s
        per_layer["peak_rss_mb"] = procs.peak_bytes / MB
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(per_layer.items())}
        lines += [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    contract = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    artifact = {
        "provenance": provenance(args, spark),
        "workload": {"name": args.workload, "why": WORKLOADS[args.workload][0],
                     "queries": bench.names},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "fail_frac": failed / attempted,
        "peak_rss_mb": procs.peak_bytes / MB,
        "host.steal_frac": run_steal,
        "setup_steal_frac": setup_steal,
        "setup_wall_s": setup_wall_s,
        "peak_rss_mb_by_process": {k: v / MB for k, v in procs.peak_by_kind.items()},
        "oracle_s": oracle_s,
        "setup_phases_s": phases,
        "warmup": warmup,
        "records": records,
        "wrapped_functions": n_wrapped,
        "contract": contract,
    }
    return {"lines": lines, "contract": contract, "artifact": artifact}


def _best_raw(records: list[dict]) -> float:
    """Sum over queries of the best uncorrected wall, for comparison."""
    best: dict[str, float] = {}
    for r in records:
        if "latency_s" in r:
            best[r["query"]] = min(best.get(r["query"], r["raw_wall_s"]), r["raw_wall_s"])
    return sum(best.values())


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith(("_bytes", ".bytes")) or metric.startswith("python_worker.bytes"):
        return "B"
    if metric.endswith("_frac"):
        return "fraction"
    if metric.endswith("_mb"):
        return "MB"
    return "count"


def _layer_totals(records: list[dict]) -> dict[str, float]:
    """Per-layer metrics of the traced pass, summed over its queries."""
    from layers import PY_METRICS, SELF_METRICS

    names = [
        "suite.build_s", "suite.build_jobs", "session.load_table_s",
        "session.load_table_calls", "sources.read_s", "sources.write_s",
        "sources.tmp_bytes", "geometry.driver_s", "operators.driver_s",
        "spark.plan_s", "spark.jobs", "spark.stages", "spark.skipped_stages",
        "spark.tasks", "spark.failed_tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.input_bytes",
        "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
        *PY_METRICS.values(), "result.fetch_s", "result.rows", "result.bytes",
        *SELF_METRICS,
    ]
    return {n: sum(r.get("layers", {}).get(n, 0.0) for r in records) for n in names}


def _shutdown(spark, procs: ProcessTree) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes), and wait
    for it and the Python workers it started."""
    if spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            spark.stop()
            gateway.shutdown()
        except Exception as ex:  # the JVM may be gone already; still reap it
            print(f"perfbench: stopping Spark: {type(ex).__name__}: {ex}", file=sys.stderr)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procs.stop()
    procs.wait_all_ended(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
