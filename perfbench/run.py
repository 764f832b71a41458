"""Benchmark of gms_spark's own kernels, checked against single-process oracles.

Usage, from the repository root:

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 10 --trace 0

One run, in one process:
  1. set-up: a 4-core session (``get_spark``, including its warmup, and
     the JVM launch) and the workload's inputs, generated from --seed;
  2. the oracle answers, computed in this process (not part of set-up);
  3. a cold pass (the first in the fresh session), the workload's warm-up
     passes, then measured passes until --seconds have been spent on them
     and the workload's count of them has run; every call's result in
     every pass is checked.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. A traced run also writes its spans and per-pass layer counters
to .perfbench/traces/. --smoke shrinks the inputs so the whole path,
oracles and status-store probe included, runs in seconds.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import sys
import time
import uuid
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
SHUFFLE_PARTITIONS = 8
QUIESCE_S = 0.2
# a fixed-size driver heap: no run-to-run differences in how far G1 grows it
HEAP = "4g"

LAYERS = ("session", "tableio", "extract", "build", "pagerank", "components", "labelprop", "triangles")
EXTRA_LAYER_METRICS = (
    "extract.pages", "extract.html_mb", "build.urls", "build.edges",
    "pagerank.supersteps", "components.rounds", "labelprop.rounds",
    "triangles.oriented_edges", "triangles.count",
    "tableio.read_s", "tableio.write_s", "tableio.bytes_mb",
    "session.build_s", "session.persisted_rdds", "session.peak_rss_mb",
    "bench.job_s", "bench.cold_job_s", "bench.edges_per_s", "bench.layer_cover", "bench.oracle_s",
    "bench.verify_s",
)
UNITS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "stages_skipped": "count",
    "task_ms": "ms", "core_util": "ratio", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "rows_out": "count", "python_ms": "ms", "python_share": "ratio",
    "pages": "count", "html_mb": "MB", "urls": "count", "edges": "count", "supersteps": "count",
    "rounds": "count", "oriented_edges": "count", "count": "count", "read_s": "s", "write_s": "s",
    "bytes_mb": "MB", "build_s": "s", "persisted_rdds": "count", "peak_rss_mb": "MB", "job_s": "s",
    "cold_job_s": "s", "edges_per_s": "1/s", "layer_cover": "ratio",
    "oracle_s": "s", "verify_s": "s",
}
END_TO_END_UNITS = {"setup_s": "s", "job_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, same code path")
    return p.parse_args(argv)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm() -> None:
    """Stop the gateway JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    procs = _descendants(proc.pid)
    try:
        gw.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        for pid in procs:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.1)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Run:
    def __init__(self, args, work: Path):
        from spans import Tracer
        from workloads import WORKLOADS, Checks

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](args.seed, args.smoke)
        self.tr = Tracer(f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}", bool(args.trace))
        self.checks = Checks()
        self.passes: list[dict] = []
        self.setup_s = 0.0

    def session(self):
        from gms_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS,
                          extra_conf={"spark.driver.memory": HEAP, "spark.driver.extraJavaOptions": f"-Xms{HEAP}"})
        build_s = time.perf_counter() - t0
        self.setup_s += build_s
        self.tr.bind(spark)
        return spark, build_s

    def one_pass(self, spark, index: int) -> dict:
        io = getattr(self.wl, "io", None)
        io_before = dict(io.stats) if io else {}
        with self.tr.span(f"pass{index}", None) as p:
            res = self.wl.job(spark, self.tr)
        spans = {s["name"]: s for s in self.tr.spans if s["parent"] == p["id"]}
        print(f"pass{index} {p['wall_s']:.2f} s: " + ", ".join(f"{n} {s['wall_s']:.2f}" for n, s in spans.items()),
              file=sys.stderr, flush=True)
        persisted = len(spark.sparkContext._jsc.getPersistentRDDs())  # before any cleanup
        t0 = time.perf_counter()
        facts = self.wl.verify(res, self.checks, spans)
        verify_s = time.perf_counter() - t0
        if io:
            facts["tableio.read_s"] = io.stats["read_s"] - io_before["read_s"]
            facts["tableio.bytes_mb"] = io.stats["read_mb"] - io_before["read_mb"]
            facts["tableio.write_s"] = io.stats["write_s"]  # the set-up commit
        rec = {"wall_s": p["wall_s"], "pagerank_s": spans.get("pagerank", {}).get("wall_s"), "facts": facts,
               "persisted_rdds": persisted, "verify_s": verify_s}
        if self.tr.enabled:
            rec["layers"] = self.tr.layer_counters(p, CORES, self.wl.extract_marker)
        self.passes.append(rec)
        return rec

    def release(self, spark) -> None:
        """Drop the pass's results and wait for their cached blocks to go,
        so the next pass starts without the last one's data."""
        gc.collect()  # drop the py4j handles of the pass's frames
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        # no System.gc(): a full GC lets G1 shrink the heap and the next
        # pass pays to grow it again (half the runs of one set went slow)
        time.sleep(QUIESCE_S)

    def execute(self) -> dict:
        spark, build4 = self.session()
        session_layer = self.tr.session_counters(build4, CORES) if self.tr.enabled else None
        t0 = time.perf_counter()
        self.wl.setup(spark, str(self.work))
        self.setup_s += time.perf_counter() - t0
        t0 = time.perf_counter()
        self.wl.oracle(spark)
        oracle_s = time.perf_counter() - t0

        cold = self.one_pass(spark, 0)
        self.release(spark)
        # the JIT is still compiling the driver's planning code over the
        # first passes; every run times the same pass indexes
        for _ in range(self.wl.warmup_passes):
            self.one_pass(spark, len(self.passes))
            self.release(spark)
        warm: list[dict] = []
        while len(warm) < self.wl.measured_passes or sum(r["wall_s"] for r in warm) < self.args.seconds:
            warm.append(self.one_pass(spark, len(self.passes)))
            self.release(spark)
        jvm_kb = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        spark.stop()
        print(f"setup {self.setup_s:.2f} s (session {build4:.2f}), oracle {oracle_s:.2f} s, "
              f"verify {sum(r['verify_s'] for r in self.passes):.2f} s", file=sys.stderr, flush=True)

        e2e = {"setup_s": self.setup_s, "job_s": median([r["wall_s"] for r in warm])}
        out = {"e2e": e2e, "passes": self.passes, "failures": self.checks.failures}
        if self.tr.enabled:
            out["per_layer"] = self.per_layer(cold, warm, session_layer, build4, oracle_s)
            out["per_layer"]["session.peak_rss_mb"] = (jvm_kb + py_kb) * 1024 / 1e6
        return out

    def per_layer(self, cold: dict, warm: list[dict], session_layer: dict, build4: float, oracle_s: float) -> dict:
        from spans import COUNTERS

        metrics: dict[str, float] = {}
        for layer in LAYERS:
            for c in COUNTERS:
                if layer == "session":
                    metrics[f"session.{c}"] = session_layer[c]
                else:
                    metrics[f"{layer}.{c}"] = median([r["layers"].get(layer, {}).get(c, 0.0) for r in warm])
        for name in EXTRA_LAYER_METRICS:
            metrics[name] = median([r["facts"].get(name, 0.0) for r in warm])
        metrics["session.build_s"] = build4
        metrics["session.persisted_rdds"] = median([r["persisted_rdds"] for r in warm])
        metrics["bench.job_s"] = median([r["wall_s"] for r in warm])
        metrics["bench.cold_job_s"] = cold["wall_s"]
        facts = warm[-1]["facts"]
        if "pagerank.supersteps" in facts:
            metrics["bench.edges_per_s"] = (
                facts["edges"] * facts["pagerank.supersteps"] / median([r["pagerank_s"] for r in warm])
            )
        covered = [sum(v["wall_s"] for v in r["layers"].values()) / r["wall_s"] for r in warm]
        metrics["bench.layer_cover"] = median(covered)
        metrics["bench.oracle_s"] = oracle_s
        metrics["bench.verify_s"] = median([r["verify_s"] for r in warm])
        return metrics


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = Path.cwd() / ".perfbench" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything Spark, the JVM and the Python workers write stays in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the spark-submit launcher's too: temp files in the work dir, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        run = Run(args, work)
        out = run.execute()
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        traces = Path.cwd() / ".perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{run.tr.run_id}.json").write_text(json.dumps(
            {"workload": args.workload, "seed": args.seed, "spans": run.tr.spans, "passes": out["passes"],
             "per_layer": out["per_layer"], "failures": out["failures"],
             "missing_stages": run.tr.missing_stages}, indent=1))
        metrics = {k: {"value": v, "unit": UNITS[k.split(".", 1)[1]]} for k, v in out["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in out["e2e"].items()}
    for f in out["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": run.checks.failed == 0,
        "attempted": run.checks.attempted,
        "failed": run.checks.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
