"""Benchmark of the graphload pipeline and the query registry.

    python3 perfbench/run.py --workload backfill_mutable --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Workloads: ``backfill_mutable`` and
``backfill_wide`` (``run`` -> ``tocsv`` -> ``inject-csv`` into a throwaway
Postgres) and ``registry_mix`` (eleven registry queries, warm).  Each is a
closed loop with one client: one stage (or query) is submitted, waited for,
then the next.  Spark runs at ``local[nproc]``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (see README.md).  Inputs are generated
from ``--seed`` and cached under ``.perfbench_cache/``; scratch space is
``.perfbench_work/``.  ``--size tiny`` shrinks the backfill inputs for the
self-test.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("backfill_mutable", "backfill_wide", "registry_mix")

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
]

_STAGE = [
    ("run_s", "s", "lower"),
    ("tocsv_s", "s", "lower"),
    ("inject_s", "s", "lower"),
    ("pipeline_eps", "events/s", "higher"),
    ("queries_s", "s", "lower"),
    ("failed_ratio", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
_SESSION = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
]
_PIPELINE = [
    ("ingest.stage_s", "s", "lower"),
    ("ingest.batches", "count", "lower"),
    ("ingest.staged_bytes", "bytes", "lower"),
    ("ingest.order_check_s", "s", "lower"),
    ("demux.s", "s", "lower"),
    ("demux.files", "count", "lower"),
    ("demux.bytes", "bytes", "lower"),
    ("poi.s", "s", "lower"),
    ("poi.sorted_folds", "count", "higher"),
    ("poi.shuffle_folds", "count", "lower"),
    ("poi.rows", "count", "lower"),
    ("run.jobs", "count", "lower"),
    ("run.tasks", "count", "lower"),
    ("run.shuffle_write_bytes", "bytes", "lower"),
    ("run.spill_bytes", "bytes", "lower"),
    ("tocsv.plan_s", "s", "lower"),
    ("tocsv.last_block_s", "s", "lower"),
    ("tocsv.write_s", "s", "lower"),
    ("tocsv.shuffle_write_bytes", "bytes", "lower"),
    ("tocsv.spill_bytes", "bytes", "lower"),
    ("tocsv.jobs", "count", "lower"),
    ("tocsv.tasks", "count", "lower"),
    ("tocsv.files", "count", "lower"),
    ("tocsv.csv_bytes", "bytes", "lower"),
    ("tocsv.versions_out", "count", "higher"),
    ("tocsv.versions_per_event", "ratio", "higher"),
    ("inject.index_drop_s", "s", "lower"),
    ("inject.index_create_s", "s", "lower"),
    ("inject.copy_s", "s", "lower"),
    ("inject.rows", "count", "higher"),
    ("inject.files", "count", "lower"),
    ("inject.copy_tasks", "count", "lower"),
    ("inject.rows_per_s", "rows/s", "higher"),
    ("spark.failed_tasks", "count", "lower"),
]
_SELF = [
    (f"{layer}.self_s", "s", "lower")
    for layer in ("session", "ingest", "demux", "poi", "tocsv", "inject", "plans")
]


def _query_metrics():
    from registry import QUERIES

    out = []
    for q in QUERIES:
        out += [
            (f"query.{q}.build_s", "s", "lower"),
            (f"query.{q}.build_jobs", "count", "lower"),
            (f"query.{q}.exec_s", "s", "lower"),
            (f"query.{q}.shuffle_write_bytes", "bytes", "lower"),
        ]
    return out + [("plans.build_s", "s", "lower"), ("plans.exec_s", "s", "lower")]


PER_LAYER = _STAGE + _SESSION + _PIPELINE + _query_metrics() + _SELF


class Bench:
    """Run-wide state: arguments, directories, the Spark session."""

    def __init__(self, args, root: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = args.size
        self.root = root
        self.work = os.path.join(root, ".perfbench_work")
        self.cache = os.path.join(root, ".perfbench_cache")
        self.nproc = len(os.sched_getaffinity(0))
        self.setup_s = math.nan
        self.session_s = (math.nan, math.nan)
        self.spark = None
        from spans import Tracer

        self.tracer = Tracer()

    def environment(self) -> None:
        """Keep every file Spark and Python write inside the checkout, and
        size Spark to the host."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        # every JVM started from here on (Spark, and javac/jar building the
        # program's Java UDFs): temp files in the checkout, and no hsperfdata
        # file, which the JVM writes to the system temp directory regardless
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        ]))
        import tempfile

        tempfile.tempdir = tmp

    def cache_dir(self, key: str, sources: list[str]) -> str:
        """Input cache directory of this workload for ``key``, tied to the
        code (relative to the checkout) that makes the inputs."""
        h = hashlib.sha256()
        for path in sources:
            with open(os.path.join(self.root, path), "rb") as fh:
                h.update(fh.read())
        return os.path.join(self.cache, self.workload, f"{key}-{h.hexdigest()[:12]}")

    def in_child(self, code: str) -> None:
        """Run ``code`` in a child Python process (input generation), so
        its memory stays out of this process's peak RSS."""
        path = [self.root, HERE, os.path.join(self.root, "scripts"), os.environ.get("PYTHONPATH", "")]
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, path)))
        subprocess.run([sys.executable, "-c", code], cwd=self.root, env=env, check=True, timeout=600)

    def _conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        return conf

    def setup(self, create_tables):
        """The session set-up, timed: launch the JVM and the Spark session
        (cold, as every CLI command starts), run a first trivial job, create
        the target tables and indexes."""
        from substreams_sink_graph_load_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(1 << 16).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        if create_tables is not None:
            create_tables()
        self.setup_s = time.perf_counter() - t0
        self.session_s = (t1 - t0, t2 - t1)
        return self.spark

    def measure(self, one) -> list[dict]:
        """Call ``one(i, traced)`` for i = 0, 1, ... until ``seconds`` have
        passed, at least once.  Repetitions started before the deadline
        are the timed ones.  With ``--trace 1``, from i = 2 every even
        repetition is traced, and the run goes on until it has a traced and
        an untraced one after the first (which may be cold)."""
        deadline = time.perf_counter() + self.seconds
        reps: list[dict] = []
        i = 0
        while True:
            timed = not reps or time.perf_counter() < deadline
            traced = self.trace and i >= 2 and i % 2 == 0
            rep = one(i, traced)
            rep.update(run_id=i, timed=timed and not traced, traced=traced)
            reps.append(rep)
            i += 1
            if time.perf_counter() >= deadline and (not self.trace or len(reps) >= 3):
                return reps

    @staticmethod
    def summarize(reps: list[dict], ops_per_rep: int) -> dict:
        """Attempted and failed operations, the median timed wall, and the
        tracing overhead: traced minus untraced repetitions, the first left
        out of both."""
        ok = [r for r in reps if not r["failed"]]
        timed = [r["wall_s"] for r in ok if r["timed"]]
        result = {
            "attempted": ops_per_rep * len(reps),
            "failed": sum(len(r["failed"]) for r in reps),
            "e2e": {"wall_s": statistics.median(timed) if timed else float("nan")},
            "stages": {},
            "layers": {},
            "reps": sum(r["timed"] for r in reps),
        }
        traced = [r["wall_s"] for r in ok if r["traced"]]
        untraced = [r["wall_s"] for r in ok if not r["traced"] and r["run_id"] > 0]
        if traced and untraced:
            result["layers"]["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        return result

    def counters(self, spark):
        from spans import SparkCounters

        c = SparkCounters(spark)
        c.scrape()
        return c

    def peak_rss_mb(self, spark) -> float:
        """Peak resident memory of this process plus the Spark JVM."""
        def hwm_kb(pid) -> int:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
            return 0

        py, jvm = hwm_kb("self") / 1024.0, hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024.0
        print(f"# peak RSS: Python {py:.0f} MB, JVM {jvm:.0f} MB", file=sys.stderr)
        return py + jvm

    def teardown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _finite(v: float) -> float:
    return v if isinstance(v, (int, float)) and math.isfinite(v) else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)

    started = time.perf_counter()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "substreams_sink_graph_load_spark")):
        print("perfbench: run from the root of a checkout of the program", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    bench = Bench(args, root)
    bench.environment()
    shutil.rmtree(os.path.join(bench.work, "rep"), ignore_errors=True)

    import backfill
    import registry

    try:
        if args.workload == "registry_mix":
            res = registry.run(bench)
        else:
            res = backfill.run(bench)
    finally:
        bench.teardown()

    failed, attempted = res["failed"], res["attempted"]
    correct = failed == 0 and math.isfinite(res["e2e"]["wall_s"])
    if not args.trace:
        values = {
            "setup_s": bench.setup_s,
            "wall_s": res["e2e"]["wall_s"],
        }
        specs = END_TO_END
    else:
        values = {name: 0.0 for name, _, _ in PER_LAYER}
        values.update(res["stages"])
        values.update(res.get("layers", {}))
        values["failed_ratio"] = failed / attempted
        values["peak_rss_mb"] = res["peak_rss_mb"]
        start, warm = bench.session_s
        values.update({
            "session.start_s": start,
            "session.warmup_s": warm,
            "session.self_s": start + warm,
        })
        if set(res["layers"]) <= {"trace.overhead_s"}:
            correct = False  # no traced repetition succeeded
        specs = PER_LAYER
    print(
        f"# {args.workload} seed={args.seed}: set-up {bench.setup_s:.2f} s, "
        f"{res['reps']} timed repetition(s), {time.perf_counter() - started:.1f} s in all",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": _finite(values[name]), "unit": unit} for name, unit, _ in specs
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
