"""Dedupe engine benchmark on local[4].

    python3 perfbench/run.py --workload batch_dup --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Each run starts its own Spark session, builds
the workload's inputs from ``--seed``, runs the cold first call, then times
requests until ``--seconds`` have passed, checking each one's output outside
its timed span. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The line before it holds the run's details: every request
time, the RDDs left persisted, and the machine profile.

``--smoke`` runs every workload at a tiny size, untraced and traced, and
checks that each run emits every metric ``BENCHMARK.json`` names.

Everything the run writes (Spark shuffle and temp files, the event log, the
pipeline checkpoint) stays under ``perfbench/.work/`` and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
DRIVER_MEM = "2g"
MB = 1 << 20


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (smoke mode)")
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    if not args.smoke and not args.workload:
        p.error("--workload is required")
    return args


def configure_env(work: Path, trace: bool) -> Path:
    """Environment for the Spark session; must run before pyspark starts the
    JVM. Returns the event-log directory."""
    tmp, events = work / "tmp", work / "events"
    tmp.mkdir(parents=True)
    events.mkdir()
    path = os.environ.get("PYTHONPATH")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata
    os.environ.update(
        {
            "TMPDIR": str(tmp),
            # the JVM spark-submit runs to build the driver's command line
            "SPARK_LAUNCHER_OPTS": jvm_opts,
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_LOCAL_DIR": str(work / "shuffle"),
            # the UDF workers import the engine from the checkout too
            "PYTHONPATH": os.pathsep.join([str(ROOT)] + ([path] if path else [])),
        }
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.includeTaskMetricsAccumulators": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()] + ["pyspark-shell"]
    )
    return events


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    process exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.close()
        proc.stdin.close()
        proc.wait(timeout=60)


class Calls:
    """Attempted / failed bookkeeping. A call fails when it raises, fails
    its output check, or leaves RDDs persisted besides its result."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.leaked = 0

    def run(self, fn) -> float | None:
        """Time ``fn() -> (leaked, finish)``; ``finish`` checks the output
        outside the timed span."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            leaked, finish = fn()
            wall = time.perf_counter() - t0
            finish()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        return None if self.leak(leaked) else wall

    def leak(self, leaked: int) -> bool:
        """Count a call that left ``leaked`` RDDs persisted as failed."""
        if leaked:
            print(f"call left {leaked} RDDs persisted", file=sys.stderr)
            self.leaked += leaked
            self.failed += 1
        return bool(leaked)


def measure(args, work: Path, t_start: float) -> tuple[dict, dict]:
    events = configure_env(work, bool(args.trace))
    sys.path[:0] = [str(ROOT), str(HERE)]
    from imgdupes_spark.session import get_spark

    import layertrace as tr
    import workloads

    spark = get_spark(master=f"local[{CORES}]", app_name="perfbench")
    tracer = tr.Tracer(spark.sparkContext) if args.trace else None
    calls = Calls()
    untraced: list[float] = []
    traced: list[float] = []
    try:
        wl = workloads.make(args.workload, spark, args.seed, args.tiny, str(work))
        # set-up ends with the workload's cold first call, checked like any
        # other; it raises on a wrong result, and a leak fails it
        calls.attempted += 1
        calls.leak(wl.setup(tracer))
        setup_s = time.perf_counter() - t_start
        setup_spans = len(tracer.spans) if tracer else 0
        t_window = time.perf_counter()
        n_traced = n_untraced = 0
        while True:
            # traced runs alternate traced and untraced requests, so the
            # difference of their medians is the tracing overhead; the traced
            # one goes first, so warm-up still under way inflates the
            # overhead rather than hiding it
            if tracer and n_traced <= n_untraced:
                n_traced += 1
                wall = calls.run(lambda: wl.traced_request(tracer))
                if wall is not None:
                    traced.append(wall)
            else:
                n_untraced += 1
                wall = calls.run(wl.request)
                if wall is not None:
                    untraced.append(wall)
            if time.perf_counter() - t_window >= args.seconds and n_untraced:
                break
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    median = statistics.median
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "docs_per_request": wl.docs,
        "requests": len(untraced),
        "request_s": untraced,
        "traced_request_s": traced,
        "rdds_leaked": calls.leaked,
        "jvm_peak_rss_mb": rss,
        "machine": {
            "cores": CORES,
            "ram_gb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
            "driver_mem": DRIVER_MEM,
            "shuffle_dir": "perfbench/.work",
        },
    }
    if not args.trace:
        metrics = {
            "docs_per_s": (wl.docs * len(untraced) / sum(untraced) if untraced else 0.0, "docs/s"),
            "setup_s": (setup_s, "s"),
        }
    else:
        groups = tr.fold_event_log(str(events))
        metrics = tr.layer_metrics(workloads.LAYERS, tracer.spans, groups, CORES)
        counts = {
            "fingerprints.docs": 0,
            "lsh.reps": 0,
            "lsh.edges": 0,
            "containment.edges": 0,
            "components.edges_in": 0,
            "clusters.members": 0,
            "query.hits": 0,
            **wl.counts,
        }
        metrics.update({k: (v, "count") for k, v in counts.items()})
        written = groups["pipeline"].output if "pipeline" in groups else 0
        delta = wl.delta_bytes
        metrics["pipeline.write_mb"] = (written / MB, "MB")
        metrics["pipeline.write_amp"] = (written / delta if delta else 0.0, "ratio")
        metrics["jvm_peak_rss_mb"] = (rss, "MB")
        metrics["untagged.jobs"] = (groups[tr.UNTAGGED].jobs if tr.UNTAGGED in groups else 0, "count")
        # share of the traced requests' wall time spent inside top-level layer
        # spans; set-up spans are left out, as nothing but the span times them
        top = sum(
            t1 - t0 for _, parent, t0, t1 in tracer.spans[setup_spans:] if parent is None
        )
        metrics["trace.span_cover"] = (top / sum(traced) if traced else 0.0, "fraction")
        metrics["trace.overhead_s"] = (
            median(traced) - median(untraced) if traced and untraced else 0.0,
            "s",
        )
    result = {
        "correct": calls.failed == 0 and bool(untraced),
        "attempted": calls.attempted,
        "failed": calls.failed,
        "metrics": {
            k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }
    return result, detail


def smoke() -> int:
    """Every workload at tiny size, untraced and traced, in child runs;
    fails unless each emits exactly the metrics BENCHMARK.json names."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    ok = True
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [
                sys.executable, str(Path(__file__).resolve()),
                "--workload", w["name"], "--seed", "7", "--seconds", "0",
                "--trace", str(trace), "--tiny",
            ]  # fmt: skip
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
                got = set(out["metrics"])
                good = (
                    proc.returncode == 0
                    and out["correct"]
                    and got == want[trace]
                    and all(isinstance(m["value"], (int, float)) for m in out["metrics"].values())
                )
                why = f"missing {sorted(want[trace] - got)} extra {sorted(got - want[trace])}"
            except (IndexError, ValueError, KeyError) as exc:
                good, why = False, f"no result line ({exc}): {proc.stderr[-2000:]}"
            print(f"{w['name']} trace={trace}: {'ok' if good else 'FAIL ' + why}", flush=True)
            ok &= good
    return 0 if ok else 1


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if args.smoke:
        return smoke()
    if not (ROOT / "imgdupes_spark").is_dir():
        print(f"imgdupes_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        result, detail = measure(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
