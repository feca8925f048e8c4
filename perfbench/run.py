"""Outside-in benchmark of the sales-analytics ETL engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sales_analytics --seed 1 --seconds 5 --trace 0

Workloads (closed loop, one client, local[nproc]): ``sales_analytics`` and
``nightly_index``; see README.md in this directory.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` wraps the
engine's public functions in spans and prints the per-layer metrics.
The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Inputs are generated from ``--seed`` under ``.perfbench_work/``
in the checkout, which is removed at exit; ``.perfbench_cache/`` keeps what
later runs in the checkout reuse (the nightly base indexes).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
E2E_METRICS = ("setup_s", "op_ms_p50", "read_ms_p50")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of host memory, at most 2g (the session default is 48g)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(2, kb // (4 << 20)))}g"


def prepare_env(work: str, trace: bool) -> None:
    """Host hygiene; must run before the JVM starts. Traced runs keep every
    job and stage in the status store until the tracer has read them."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # no Hadoop checksum side files, as on an object store: locally
            # they double the files every write creates and renames
            "--conf spark.hadoop.fs.file.impl=org.apache.hadoop.fs.RawLocalFileSystem",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            *(["--conf spark.ui.retainedJobs=1000000",
               "--conf spark.ui.retainedStages=1000000"] if trace else []),
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = tmp


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree (driver JVM and Python
    workers included), sampled from /proc every second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def tree_rss_kb(root: int) -> int:
        parent, rss = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(entry)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total = 0
        for pid in rss:
            p = pid
            while p and p != root:
                p = parent.get(p, 0)
            if p == root:
                total += rss[pid]
        return total

    def run(self):
        me = os.getpid()
        while not self._halt.wait(1.0):
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(me))

    def stop(self) -> float:
        self._halt.set()
        self.join(5)
        return self.peak_kb / 1024.0


class Ctx:
    """What a workload needs: the session, its scratch space, the cache
    that outlives the run, the seed, the tracer (traced runs only) and the
    run's samples."""

    def __init__(self, spark, work: str, seed: int, tracer, cache: str | None = None):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.tracer = tracer
        self.op_ms: list[float] = []
        self.read_ms: list[float] = []
        self.detail: dict[str, float] = {}
        self.check_failures: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.check_failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok


def load_declared() -> dict:
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(60)
        except Exception:
            proc.kill()
            proc.wait(30)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import workloads

    wl_cls = workloads.WORKLOADS[workload]
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        prepare_env(work, trace)
        sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        from gcp_serverless_etl_pipeline_lab_spark.session import get_session

        spark = get_session(app_name=f"perfbench-{workload}")
        from spans import Tracer

        tracer = Tracer(spark) if trace else None
        ctx = Ctx(spark, work, seed, tracer, os.path.join(os.getcwd(), ".perfbench_cache"))
        wl = wl_cls(ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        attempted = failed = 0

        def account(op) -> None:
            # one attempt: fails if it raises or any of its checks mismatch
            nonlocal attempted, failed
            attempted += 1
            before = len(ctx.check_failures)
            try:
                op()
            except Exception:
                ctx.check_failures.append(f"{workload}: op raised")
                traceback.print_exc()
            failed += len(ctx.check_failures) > before

        if tracer is not None:
            wl.install_spans()
        deadline = time.perf_counter() + seconds
        for op in wl.ops(deadline):
            account(op)
            if tracer is not None:
                tracer.attribute_jobs()
        if tracer is not None:
            tracer.restore()
        for check in wl.checks_after():
            account(check)
        peak_rss_mb = sampler.stop()
        e2e = {
            "setup_s": setup_s,
            "op_ms_p50": statistics.median(ctx.op_ms),
            "read_ms_p50": statistics.median(ctx.read_ms),
        }
        detail = {
            "workload": workload, "seed": seed, "cpus": cpu_count(),
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "traced": trace, "ops": len(ctx.op_ms), "reads": len(ctx.read_ms),
            "failed_op_share": failed / max(attempted, 1),
            "peak_rss_mb": round(peak_rss_mb, 1),
            "op_ms": [round(v, 1) for v in ctx.op_ms],
            **{k: round(v, 4) for k, v in e2e.items()},
            **ctx.detail,
        }
        result = {"detail": detail, "e2e": e2e, "attempted": attempted, "failed": failed}
        if tracer is not None:
            result["layers"] = wl.layer_metrics()
            result["spans"] = tracer.dump()
            if hasattr(wl, "build_jobs_by_query"):
                result["build_jobs_by_query"] = wl.build_jobs_by_query()
        return result
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="traced runs: also write the span tree here")
    args = ap.parse_args(argv)
    declared = load_declared()
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if args.trace:
        names = [(m["name"], m["unit"]) for m in declared["per_layer"]]
        values = result["layers"]
        if args.spans_out:
            with open(args.spans_out, "w") as fh:
                json.dump({k: v for k, v in result.items() if k != "e2e"}, fh, indent=1)
    else:
        names = [(m["name"], m["unit"]) for m in declared["end_to_end"]]
        values = result["e2e"]
    print(json.dumps(result["detail"]))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        # a per-layer metric of another workload's layer reads 0 here
        "metrics": {n: {"value": values[n] if not args.trace else values.get(n, 0.0),
                        "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
