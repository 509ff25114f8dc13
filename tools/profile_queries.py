"""Per-query profiler for the optimization rounds (guide §1).

Runs each declared query exactly like bench.py (warm-up pass at a small
SF, then timed passes at the target SF), but with the Spark UI enabled
so the REST API can report, per query: wall seconds, number of jobs /
stages / tasks, input bytes, and shuffle read/write bytes.  Also dumps
``.explain("formatted")`` per query under plans/<tag>/.

Usage:
    python tools/profile_queries.py [--queries a,b,c] [--tag r17_before] \
        [--plans-only] [--top N]

Writes PROFILE_<tag>.json in the repo root.  This is a measurement tool
only — bench.py stays the driver-contract artifact.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
import urllib.request
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="", help="comma-separated subset")
    ap.add_argument("--tag", default="profile")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--top", type=int, default=0,
                    help="profile only the N slowest per committed BENCH_FULL")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra spark conf key=value (repeatable)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as e
    from wrf_to_geodataframe_spark.session import get_spark

    extra = {
        "spark.ui.enabled": "true",
        "spark.ui.port": "4047",
    }
    for kv in args.conf:
        k, _, v = kv.partition("=")
        extra[k] = v
    spark = get_spark("profile", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    if args.queries:
        want = args.queries.split(",")
        qs = {k: v for k, v in qs.items() if k in want}
    elif args.top:
        with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
            prev = json.load(fh)["queries"]
        names = sorted(prev, key=lambda k: -prev.get(k, 0))[: args.top]
        qs = {k: v for k, v in qs.items() if k in names}

    plans_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(plans_dir, exist_ok=True)

    if args.plans_only:
        for name, fn in sorted(qs.items()):
            try:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    fn(spark, sf_dir).explain("formatted")
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                    fh.write(buf.getvalue())
            except Exception as ex:
                print(f"plan error {name}: {ex}", file=sys.stderr)
            spark.catalog.clearCache()
        print(f"plans written to {plans_dir}")
        return

    # warm-up (JIT + python workers), mirroring bench.py
    if not args.no_warm:
        from wrf_to_geodataframe_spark.session import load_table, sf_path
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]:
            try:
                if os.path.exists(sf_path(sf_dir, t)):
                    load_table(spark, sf_dir, t).count()
            except Exception:
                pass
        try:
            spark.range(64).mapInPandas(lambda it: it, "id long").count()
        except Exception:
            pass
        warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
        if not os.path.isdir(warm_dir):
            warm_dir = sf_dir
        for name, fn in sorted(qs.items()):
            try:
                fn(spark, warm_dir).collect()
            except Exception as ex:
                print(f"warm error {name}: {ex}", file=sys.stderr)
            spark.catalog.clearCache()

    # select THIS session's application by id, not list position — the
    # UI endpoint can list several apps (ADVICE r17)
    want_id = spark.sparkContext.applicationId
    apps = _rest("http://localhost:4047/api/v1/applications")
    app_id = next(
        (a["id"] for a in apps if a["id"] == want_id), apps[0]["id"]
    )
    base = f"http://localhost:4047/api/v1/applications/{app_id}"

    out: dict[str, dict] = {}
    for name, fn in sorted(qs.items()):
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        jobs_before = {j["jobId"] for j in _rest(f"{base}/jobs")}
        t0 = time.time()
        try:
            fn(spark, sf_dir).collect()
            wall = round(time.time() - t0, 3)
        except Exception as ex:
            print(f"error {name}: {ex}", file=sys.stderr)
            out[name] = {"sec": -1.0, "err": str(ex)[:200]}
            spark.catalog.clearCache()
            continue
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()

        jobs = [j for j in _rest(f"{base}/jobs")
                if j["jobId"] not in jobs_before]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        n_tasks = sum(j.get("numTasks", 0) for j in jobs)
        sread = swrite = inbytes = exec_ms = cpu_ns = 0
        n_stages = 0
        for sid in stage_ids:
            try:
                for att in _rest(f"{base}/stages/{sid}"):
                    n_stages += 1
                    sread += att.get("shuffleReadBytes", 0)
                    swrite += att.get("shuffleWriteBytes", 0)
                    inbytes += att.get("inputBytes", 0)
                    exec_ms += att.get("executorRunTime", 0)
                    cpu_ns += att.get("executorCpuTime", 0)
            except Exception:
                pass
        out[name] = {
            "sec": wall,
            "jobs": len(jobs),
            "stages": n_stages,
            "tasks": n_tasks,
            "input_mb": round(inbytes / 1e6, 1),
            "shuffle_read_mb": round(sread / 1e6, 2),
            "shuffle_write_mb": round(swrite / 1e6, 2),
            "executor_run_sec": round(exec_ms / 1e3, 1),
            "executor_cpu_sec": round(cpu_ns / 1e9, 1),
        }
        print(f"{name}: {json.dumps(out[name])}", flush=True)

    path = os.path.join(REPO, f"PROFILE_{args.tag}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
