#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine, with a traced per-layer run.

    python3 perfbench/run.py --workload dem_joins --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process, ``local[<nproc>]``, one
client in a closed loop: passes run back to back and nothing else runs.

* set-up: Spark session start, generate the inputs from the seed and
  commit them to a manifest table, one cold pass, which collects its
  output for the correctness check.  ``setup_s`` runs from process start
  to the end of the cold pass.
* measurement: a fixed number of passes (build + execute, no untimed
  pre-pass): ``--seconds`` divided by the workload's warm pass time on
  the reference host, at least two, so every run reports the median of
  the same pass numbers.  A pass whose sink fingerprints differ from the cold pass's,
  or that raises, counts as failed.
* check: the cold-pass output against an independent computation.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced passes (for the ``spark.*`` counters) with traced passes, half
as many of each, and reports
the per-layer metrics.  The last stdout line is the result object; the
line before it is the full run record (conditions, samples, every
metric).  Records and span traces are also written under
``perfbench/out/``.  All inputs live under one scratch root inside the
checkout, which is deleted on exit, also after a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("dem_joins", "loops")
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is
    # already inside user/nice)
    return fields[7], sum(fields[:8])


def host_probe_s() -> float:
    """Median time of a fixed pure-Python loop: how fast this host runs
    right now, so a run slowed by the machine shows in its record."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(scratch: str, nproc: int):
    from rgr_pdal_topo_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads jobs, stages and executions back by id
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        },
    )


class Bench:
    """One benchmark run: set-up, timed passes, output check."""

    def __init__(self, args, scratch: str):
        from workloads import WORKLOADS, NullTracer

        self.args = args
        self.scratch = scratch
        self.wl = WORKLOADS[args.workload]
        self.nproc = os.cpu_count() or 1
        self.null = NullTracer()
        self.tracer = self.null
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _after_pass(self) -> None:
        """Untimed: drop what a pass persisted, so no pass reads another's
        cache."""
        self.spark.catalog.clearCache()

    def _verify(self, fps, what: str) -> bool:
        from workloads import same_fingerprint

        ok = fps is not None and len(fps) == len(self.ref_fps) and all(
            same_fingerprint(a, b) for a, b in zip(fps, self.ref_fps)
        )
        if not ok:
            self.failed += 1
            if fps is not None:
                self.errors.append(f"{what}: {fps} != cold pass {self.ref_fps}")
        return ok

    def one_pass(self, tr):
        """One pass; its wall time, or None when it raised or its
        fingerprints differ from the cold pass."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fps, _ = self.wl.run_pass(self.ctx, tr)
        except Exception:  # a failing pass is counted, the run goes on
            self.errors.append(traceback.format_exc(limit=4))
            fps = None
        dt = time.perf_counter() - t0
        return dt if self._verify(fps, "pass") else None

    def setup(self) -> None:
        """Session start, generate + commit, one cold pass."""
        import numpy as np

        t = time.perf_counter()
        self.spark = start_spark(self.scratch, self.nproc)
        self.session_start_s = time.perf_counter() - t
        if self.args.trace:
            from tracer import Tracer

            self.tracer = Tracer(self.spark)
        t = time.perf_counter()
        self.inputs = self.wl.generate(np.random.default_rng(self.args.seed))
        with self.tracer.span("sources.commit", sql=True):
            self.ctx = self.wl.commit(
                self.spark, self.inputs, os.path.join(self.scratch, "table"))
        self.generate_commit_s = time.perf_counter() - t
        self.ctx.update(spark=self.spark, inputs=self.inputs)
        self.attempted += 1
        t = time.perf_counter()
        self.ref_fps, self.captured = self.wl.run_pass(
            self.ctx, self.null, capture=True)
        self.cold_pass_s = time.perf_counter() - t
        self._after_pass()
        self.setup_s = time.perf_counter() - T_PROCESS

    def timed(self, n: int) -> list:
        """``n`` untraced passes back to back: their wall times (failed
        passes left out)."""
        times = []
        for _ in range(n):
            dt = self.one_pass(self.null)
            self._after_pass()
            if dt is not None:
                times.append(dt)
        return times

    def timed_pairs(self, n: int) -> tuple[list, list, list, list]:
        """``n`` pairs of an untraced pass followed by a traced one, each
        under a root span: (untraced times, traced times, untraced root
        spans, traced root spans).  Alternating keeps both kinds equally
        warm, so their difference is what tracing costs."""
        untraced, traced, base_spans, pass_spans = [], [], [], []
        for _ in range(n):
            for times, spans, name, tr in (
                (untraced, base_spans, "pass.untraced", self.null),
                (traced, pass_spans, "pass.traced", self.tracer),
            ):
                with self.tracer.span(name) as rec:
                    dt = self.one_pass(tr)
                self._after_pass()
                times.append(dt)
                if dt is not None:
                    spans.append(rec)
        return untraced, traced, base_spans, pass_spans

    def run(self) -> tuple[dict, dict]:
        args = self.args
        steal0, total0 = cpu_counters()
        probe0 = host_probe_s()
        self.setup()
        # a fixed number of passes, sized to --seconds on the reference
        # host: the median then always covers the same pass numbers,
        # however fast the host runs (passes speed up as the JVM warms);
        # at least two, so the median is never a single pass
        n_passes = max(2, round(args.seconds / self.wl.NOMINAL_PASS_S))
        if args.trace:
            untraced_all, traced_all, base_spans, pass_spans = self.timed_pairs(
                max(1, n_passes // 2))
            untraced = [t for t in untraced_all if t is not None]
            traced = [t for t in traced_all if t is not None]
        else:
            untraced = self.timed(n_passes)
            untraced_all, traced_all, base_spans, pass_spans = [], [], [], []
            traced = []
        self.rss_mib = vm_hwm_mib(self.spark.sparkContext._gateway.proc.pid)
        if args.trace:
            self.tracer.resolve()
        problems = self.wl.check(self.inputs, self.ctx, self.captured)
        steal1, total1 = cpu_counters()
        probe1 = host_probe_s()

        input_rows = self.wl.input_rows(self.inputs)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "nproc": self.nproc,
            "master": f"local[{self.nproc}]",
            # inputs are generated from the seed; no TPC-H sf directory
            "sf": None,
            "input_rows": input_rows,
            "inputs": self.wl.describe(self.inputs),
            "spark_version": self.spark.version,
            "driver_memory": DRIVER_MEMORY,
            "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "host_probe_s": [probe0, probe1],
            "session_start_s": self.session_start_s,
            "generate_commit_s": self.generate_commit_s,
            "cold_pass_s": self.cold_pass_s,
            "timed_passes": n_passes,
            "pass_samples_s": untraced,
            "traced_pass_samples_s": traced,
            "attempted": self.attempted,
            "failed": self.failed,
            "fail_ratio": self.failed / self.attempted,
            "jvm_peak_rss_mb": self.rss_mib,
            "problems": problems,
            "check_notes": getattr(self.wl, "check_notes", {}),
            "errors": self.errors[:5],
        }
        pass_s = statistics.median(untraced) if untraced else float("nan")
        end_to_end = {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (input_rows / pass_s, "rows/s"),
        }
        record["end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
        metrics = end_to_end
        if args.trace:
            from layers import per_layer_metrics

            metrics = per_layer_metrics(
                self, base_spans, pass_spans, untraced_all, traced_all
            )
            record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
            self.tracer.write_jsonl(out_path(
                f"trace-{args.workload}-seed{args.seed}.jsonl"))
        result = {
            "correct": not problems and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return record, result

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
        gateway.proc.wait(timeout=60)


def out_path(name: str) -> str:
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, name)


def main(argv=None) -> int:
    args = parse_args(argv)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    # Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import rgr_pdal_topo_spark

    # measure the checkout's own engine, never an installed copy
    if os.path.dirname(os.path.abspath(rgr_pdal_topo_spark.__file__)) != os.path.join(
        ROOT, "rgr_pdal_topo_spark"
    ):
        sys.exit(f"rgr_pdal_topo_spark is not the one in {ROOT}")

    # everything a run writes stays in one scratch root in the checkout:
    # Python and Spark temp files, Spark local dirs, both JVMs' tmpdir
    scratch = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # recompute from TMPDIR on next use
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, scratch)
    try:
        record, result = bench.run()
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(scratch))
            except OSError:  # another run still uses it
                pass
    with open(out_path("records.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
