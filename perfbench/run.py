"""Link-graph engine benchmark.

    python3 perfbench/run.py --workload events-superstep --seed 1 \
        --seconds 1 --trace 0

Run from the root of a checkout. One run sets up the session and inputs
several times (``setup_s`` is the median), computes the oracle outputs, makes
the workload's untimed warm-up passes, then times passes until ``--seconds``
have elapsed, at least one. Every call of every pass is checked against the
oracle. The last stdout line is one JSON object: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. Raw per-call and
per-superstep records go to ``.perfbench_work/<workload>-<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from functools import partial

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SCRATCH = os.path.join(WORK, "scratch")  # emptied at the start and end of a run
SETUP_REPS = 3
TRUNCATION_CYCLE = 5  # PageRankConfig.checkpoint_interval default

END_TO_END_UNITS = {
    "setup_s": "s",
    "solve_s": "s",
    "pagerank_edges_per_s_per_iter": "1/s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.derive_s": "s",
    "pagerank.call_s": "s",
    "pagerank.supersteps": "count",
    "pagerank.superstep_ms_p50": "ms",
    "pagerank.cycle_pos1_ms": "ms",
    "pagerank.cycle_pos5_ms": "ms",
    "pagerank.outside_loop_s": "s",
    "pagerank.spark.stages": "count",
    "pagerank.spark.driver_side_s": "s",
    "pagerank.spark.executor_run_ms": "ms",
    "pagerank.spark.shuffle_write_bytes": "bytes",
    "pagerank.spark.gc_ms": "ms",
    "labelprop.call_s": "s",
    "components.call_s": "s",
    "triangles.call_s": "s",
    "triangles.spark.stages": "count",
    "triangles.spark.driver_side_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.bytes_written": "bytes",
    "trace.solve_s": "s",
}
# Spark stage metrics kept on stdout; the side file has all of them per call
SPARK_LAYERS = {
    "pagerank": ("stages", "driver_side_s", "executor_run_ms",
                 "shuffle_write_bytes", "gc_ms"),
    "triangles": ("stages", "driver_side_s"),
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _nearest_rank(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _dir_bytes(path):
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _vm_hwm_kb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _close_jvm():
    """Stop the gateway JVM the session started and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _describe(result):
    """Loop shape of an operator result: supersteps and per-superstep ms."""
    if isinstance(result, int):
        return {"supersteps": 1, "superstep_ms": [], "count": result}
    steps = getattr(result, "iterations", None)
    if steps is None:
        steps = result.supersteps
    return {
        "supersteps": steps,
        "superstep_ms": [m["wall_ms"] for m in result.metrics if "wall_ms" in m],
        "mode": result.mode,
    }


class Run:
    """One benchmark run of one workload: setups, warm-up, timed passes."""

    def __init__(self, workload, seed, trace):
        self.wl = workload
        self.seed = seed
        self.trace = trace
        self.spark = None
        self.inputs = {}
        self.setups = []
        self.attempted = 0
        self.failed = 0
        self.passes = []  # timed passes only
        self.ctx = {"checkpoint_dir": os.path.join(SCRATCH, "checkpoints")}

    def setup(self):
        from perfbench.workloads import generate_events, start_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(SCRATCH)
        t1 = time.perf_counter()
        events = generate_events(self.spark, self.seed)
        self.inputs = {}
        for name, df in self.wl.derive(events).items():
            self.inputs[name] = df.persist()
            self.inputs[name].count()
        t2 = time.perf_counter()
        self.setups.append(
            {"session_s": t1 - t0, "derive_s": t2 - t1, "setup_s": t2 - t0}
        )

    def one_pass(self, probe, tag):
        shutil.rmtree(self.ctx["checkpoint_dir"], ignore_errors=True)
        ctx = {**self.ctx, **self.inputs}
        results = []
        t0 = time.perf_counter()
        for call in self.wl.calls:
            self.attempted += 1
            try:
                res, span = probe.call(call.name, partial(call.run, ctx), tag)
            except Exception:  # a failed call is counted, the run goes on
                traceback.print_exc()
                self.failed += 1
                continue
            results.append((call, res, span))
        pass_s = time.perf_counter() - t0
        for call, res, span in results:
            span.update(_describe(res))
            try:
                call.check(res, self.expected)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                span["oracle_ok"] = False
            else:
                span["oracle_ok"] = True
        ckpt = self.ctx["checkpoint_dir"]
        record = {
            "tag": tag,
            "solve_s": pass_s,
            "calls": {span["name"]: span for _, _, span in results},
            "checkpoint_bytes": _dir_bytes(ckpt) if os.path.isdir(ckpt) else 0,
        }
        return record

    def execute(self, seconds):
        from perfbench.probe import Probe

        for _ in range(SETUP_REPS):
            self.setup()
        arrays = {}
        for name, df in self.inputs.items():
            pdf = df.select("src", "dst").toPandas()
            arrays[name] = (
                pdf["src"].to_numpy(dtype="int64"),
                pdf["dst"].to_numpy(dtype="int64"),
            )
        self.n_edges = len(arrays["graph"][0])
        self.expected = self.wl.expect(arrays)
        probe = Probe(self.spark, self.trace)
        self.warmup = [
            self.one_pass(probe, f"warmup{i}") for i in range(self.wl.warmup_passes)
        ]
        t0 = time.perf_counter()
        while not self.passes or time.perf_counter() - t0 < seconds:
            self.passes.append(self.one_pass(probe, f"pass{len(self.passes)}"))
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.peak_rss_mb = (
            _vm_hwm_kb(jvm_pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024.0
        self.probe = probe

    def close(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        _close_jvm()

    # -- metrics ---------------------------------------------------------

    def _call_values(self, call, key):
        return [
            p["calls"][call][key]
            for p in self.passes
            if call in p["calls"] and key in p["calls"][call]
        ]

    def end_to_end(self):
        pr_rate = [
            self.n_edges * c["supersteps"] / c["wall_s"]
            for p in self.passes
            if (c := p["calls"].get("pagerank"))
        ]
        return {
            "setup_s": _median([s["setup_s"] for s in self.setups]),
            "solve_s": _median([p["solve_s"] for p in self.passes]),
            "pagerank_edges_per_s_per_iter": _median(pr_rate),
            "peak_rss_mb": self.peak_rss_mb,
            "success_rate": (self.attempted - self.failed) / self.attempted,
        }

    def _pagerank_step_ms(self, position=None):
        """Wall ms of the timed PageRank supersteps; with ``position`` (1-5)
        only those at that place in the truncation cycle."""
        start, step = (0, 1) if position is None else (position - 1, TRUNCATION_CYCLE)
        return [
            ms
            for v in self._call_values("pagerank", "superstep_ms")
            for ms in v[start::step]
        ]

    def per_layer(self):
        step_ms = self._pagerank_step_ms()
        outside = [
            c["wall_s"] - sum(c["superstep_ms"]) / 1000.0
            for p in self.passes
            if (c := p["calls"].get("pagerank"))
        ]
        out = {
            "session.start_s": _median([s["session_s"] for s in self.setups]),
            "sources.derive_s": _median([s["derive_s"] for s in self.setups]),
            "pagerank.call_s": _median(self._call_values("pagerank", "wall_s")),
            "pagerank.supersteps": _median(
                self._call_values("pagerank", "supersteps")
            ),
            "pagerank.superstep_ms_p50": _median(step_ms),
            "pagerank.cycle_pos1_ms": _median(self._pagerank_step_ms(1)),
            "pagerank.cycle_pos5_ms": _median(self._pagerank_step_ms(5)),
            "pagerank.outside_loop_s": _median(outside),
            "labelprop.call_s": _median(self._call_values("labelprop", "wall_s")),
            "components.call_s": _median(
                self._call_values("components", "wall_s")
            ),
            "triangles.call_s": _median(self._call_values("triangles", "wall_s")),
            "checkpoint.resume_s": _median(self._call_values("resume", "wall_s")),
            "checkpoint.bytes_written": _median(
                [p["checkpoint_bytes"] for p in self.passes]
            ),
            "trace.solve_s": _median([p["solve_s"] for p in self.passes]),
        }
        for call, keys in SPARK_LAYERS.items():
            for key in keys:
                out[f"{call}.spark.{key}"] = _median(self._call_values(call, key))
        return out

    def side_record(self):
        return {
            "workload": self.wl.name,
            "seed": self.seed,
            "trace": self.trace,
            "setups": self.setups,
            "warmup": self.warmup,
            "passes": self.passes,
            "pagerank_superstep_ms_p90": _nearest_rank(self._pagerank_step_ms(), 0.9),
            "pagerank_cycle_pos_ms": {
                k: _median(self._pagerank_step_ms(k))
                for k in range(1, TRUNCATION_CYCLE + 1)
            },
        }


def result_line(values, units, attempted, failed) -> str:
    """The JSON object printed as the last stdout line."""
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": values[k], "unit": u} for k, u in units.items()
            },
        }
    )


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import parallel_pagerank_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine sources not found under {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(os.path.join(SCRATCH, "tmp"))
    # keep every temp file of the driver, the JVM and Spark inside SCRATCH;
    # importing the engine above did not yet fix tempfile's directory
    os.environ["TMPDIR"] = os.path.join(SCRATCH, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")

    run = Run(workloads.WORKLOADS[args.workload], args.seed, bool(args.trace))
    try:
        run.execute(args.seconds)
    finally:
        run.close()
        shutil.rmtree(SCRATCH, ignore_errors=True)
    side = os.path.join(
        WORK, f"{args.workload}-{args.seed}-trace{args.trace}.json"
    )
    run.probe.dump(side, run.side_record())
    if args.trace:
        values, units = run.per_layer(), PER_LAYER_UNITS
    else:
        values, units = run.end_to_end(), END_TO_END_UNITS
    print(result_line(values, units, run.attempted, run.failed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
