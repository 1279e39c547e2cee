#!/usr/bin/env python3
"""Pages benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload suite_validate --seed 1 --seconds 10 --trace 0

Run from the repository root. The run writes its input tables, Spark
local dirs, event log and every output dir under one temp dir inside
``perfbench/`` and removes it at exit. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run context (host cores, seed, load average, pass times).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer split instead: after the untraced passes it restarts the
SparkContext with the event log on, runs single-layer probes and traced
passes, each call in its own job group, and reads the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
GENERATIONS = 3  # set-up writes the input this many times; setup_s takes the median
TRACED_PASSES = 1
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measuring time of the run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None, help="override the workload's input size")
    ap.add_argument("--min-passes", type=int, default=None,
                    help="override the workload's least number of measured passes")
    return ap.parse_args(argv)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def reset_peak_rss() -> None:
    """Restart VmHWM of this process tree at its current RSS, so the peak
    covers the passes, not the references built before them."""
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of this process, of the driver JVM and of the Python workers
    (everything else in the process tree), in MB."""
    out = {"python": 0.0, "jvm": 0.0, "workers": 0.0}
    me = os.getpid()
    for p in descendants(me):
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        role = "python" if p == me else "jvm" if fields["Name"].strip() == "java" else "workers"
        out[role] += int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return out


class Session:
    """The benchmark's SparkSession on local[nproc], rooted in ``work``."""

    def __init__(self, work: Path, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None

    def start(self, event_log: bool) -> float:
        from reviews_quality_check_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # the whole heap is committed and touched up front, so the JVM's
            # resident size does not depend on when G1 decides to grow it
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        }
        if event_log:
            (self.work / "events").mkdir()
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = (self.work / "events").as_uri()
            # one plain JSON file, not Spark 4's rolling zstd default
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores,
                               shuffle_partitions=2 * self.cores, extra_conf=conf)
        return time.perf_counter() - t0

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the context, then the driver JVM, and wait for it."""
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Counter:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, wl, tr) -> float | None:
        """One checked pass; its wall time, or None if it failed."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = wl.run_pass(tr)
            wall = time.perf_counter() - t0
            wl.check(out)
            return wall
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def result(self, metrics: dict) -> dict:
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def measure(wl, tr, counter: Counter, seconds: float, min_passes: int) -> list[float]:
    walls = []
    t_end = time.perf_counter() + seconds
    n = 0
    while n < min_passes or time.perf_counter() < t_end:
        n += 1
        wall = counter.run(wl, tr)
        if wall is not None:
            walls.append(wall)
    return walls


def bench(args, work: Path, session: Session, context: dict) -> dict:
    from tracing import Tracer, group_metrics, read_event_log
    from workloads import LAYER_UNITS, WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    n_pages = args.pages or wl_cls.size
    counter = Counter()

    start_s = session.start(event_log=False)
    wl = wl_cls(session.spark, work, args.seed, n_pages)
    gen = []
    for _ in range(GENERATIONS):
        t0 = time.perf_counter()
        wl.generate()
        gen.append(time.perf_counter() - t0)
    wl.bind(session.spark)
    t0 = time.perf_counter()
    wl.prepare()
    ref_s = time.perf_counter() - t0

    reset_peak_rss()
    tr = Tracer(session.spark, jobs=False)
    t0 = time.perf_counter()
    for _ in range(wl.warmups):
        counter.run(wl, tr)
    warm_s = time.perf_counter() - t0
    setup_s = start_s + statistics.median(gen) + ref_s + warm_s
    walls = measure(wl, tr, counter, args.seconds, args.min_passes or wl.passes)
    peak = peak_rss_mb()
    context["peak_rss_mb"] = {k: round(v, 1) for k, v in peak.items()}
    context.update(pages=n_pages, setup_parts_s={
        "start": round(start_s, 3), "generate": [round(g, 3) for g in gen],
        "reference": round(ref_s, 3), "warmup": round(warm_s, 3)},
        pass_s=[round(w, 3) for w in walls])
    if not walls:
        raise RuntimeError("no pass succeeded")
    pages_per_s = n_pages / statistics.median(walls)

    if not args.trace:
        return counter.result({
            "pages_per_s": {"value": pages_per_s, "unit": "pages/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": sum(peak.values()), "unit": "MB"},
        })

    # traced part: same JVM, a fresh context with the event log on
    session.stop_context()
    session.start(event_log=True)
    wl.bind(session.spark)
    tr = Tracer(session.spark, jobs=True)
    wl.probes(tr)
    traced = []
    shares = []
    for _ in range(TRACED_PASSES):
        before = {k: len(v) for k, v in tr.spans.items()}
        wall = counter.run(wl, tr)
        if wall is not None:
            traced.append(wall)
            in_pass = sum(sum(v[before.get(k, 0):]) for k, v in tr.spans.items())
            shares.append(in_pass / wall)
    context["traced_pass_s"] = [round(w, 3) for w in traced]
    if not traced:
        raise RuntimeError("no traced pass succeeded")
    values = dict.fromkeys(LAYER_UNITS, 0.0)
    values.update(wl.layers(tr))
    session.stop_context()
    groups = read_event_log(work / "events")
    values["session.start_s"] = start_s
    values["sources.generate_s"] = statistics.median(gen)
    values["runner.build_jobs"] = groups.get("runner.build", {}).get("jobs", 0)
    values["dedup.cc_call_jobs"] = groups.get("dedup.cc", {}).get("jobs", 0)
    metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}
    for k, (v, unit) in group_metrics(groups).items():
        metrics[k] = {"value": v, "unit": unit}
    traced_pps = n_pages / statistics.median(traced)
    metrics["trace.pages_per_s"] = {"value": traced_pps, "unit": "pages/s"}
    metrics["trace.untraced_pages_per_s"] = {"value": pages_per_s, "unit": "pages/s"}
    metrics["trace.overhead"] = {"value": pages_per_s / traced_pps - 1.0, "unit": "ratio"}
    metrics["trace.layer_share"] = {"value": statistics.median(shares), "unit": "ratio"}
    return counter.result(metrics)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    sys.path[:0] = [str(ROOT), str(HERE)]
    # import before touching anything: outside a checkout of the repository
    # this fails and the run ends without a result
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    context = {"workload": args.workload, "seed": args.seed, "nproc": cores,
               "trace": args.trace, "load1_start": os.getloadavg()[0]}
    work = Path(tempfile.mkdtemp(prefix=".work-", dir=HERE))
    for sub in ("local", "tmp"):
        (work / sub).mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher too: temp files in the work dir,
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]))
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    session = Session(work, cores)
    try:
        result = bench(args, work, session, context)
    finally:
        try:
            session.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    context["load1_end"] = os.getloadavg()[0]
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
