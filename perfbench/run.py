"""Benchmark of dask_recommender_system_spark, one workload per run.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Workloads (queries in ``workloads.py``):

- ``corpus``: dedup, text and multimodal queries over documents and
  embeddings.
- ``tabular``: feature, grouped-map, join-strategy and sampling queries
  over orders, lineitem, events and the ratings view, which is
  materialized first.

A run generates (once per checkout) fixed input tables under
``.perfbench/``, starts one driver on ``local[<cores>]``, sets up four
times (the first starts the JVM; ``setup_s`` is the median of the other
three), checks every query once against its DuckDB oracle, untimed, and
runs two untimed warm-up passes.  It then runs passes over the workload's
queries in a seeded order, one client in a closed loop, until ``--seconds``
have passed (at least three passes); each query is timed as a ``noop``
write.
With ``--trace 1`` those passes run with Spark counters on, and as many
passes without them follow; it reports per-layer numbers and self times
from the traced passes, the tracing overhead as traced minus untraced, and
``trace.group_calls_s``, the part of it the driver thread spends setting
job groups.

Standard output: a full report as one JSON line, then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``.  A program failure is
counted, never fatal; a run that cannot measure at all exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from collections import defaultdict

import gen
from spans import RssSampler, SparkCounters, Tracer, cpu_jiffies, descendants, self_times
from workloads import OP_MODULES, PKG, QUERIES, Bench

SETUP_REPS = 4
DEADLINE_S = 170  # the whole run must end well inside 180 s
END_TO_END = {"setup_s": "s", "mix_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}
WARMUP_PASSES = 2
MIN_PASSES = 3
MODULE_METRICS = {"build_s": "s", "action_s": "s", "jobs": "count", "shuffle_mb": "MB",
                  "core_util": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {
        "session.get_spark_s": "s", "registry.load_operators_s": "s",
        "data.first_read_s": "s",
        "data.ratings_cached_s": "s", "data.ratings_cached.shuffle_mb": "MB",
        "spark.storage_mb": "MB",
    }
    for mod in OP_MODULES:
        units.update({f"{mod}.{k}": u for k, u in MODULE_METRICS.items()})
    units.update({"host.probe_start_s": "s", "host.probe_end_s": "s",
                  "baseline.numpy_epoch_s": "s", "trace.overhead_s": "s",
                  "trace.group_calls_s": "s"})
    return units


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def kill_descendants() -> None:
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def dur(rec) -> float:
    return rec["end"] - rec["start"]


class Run:
    def __init__(self, args, root: str) -> None:
        self.args = args
        self.root = root
        self.cores = len(os.sched_getaffinity(0))
        # Spark's own default, far below physical memory (``get_spark``
        # defaults to 16g), and ample for the inputs
        self.heap = "1g"
        self.work = os.path.join(root, ".perfbench")
        self.tmp = os.path.join(self.work, f"tmp-{os.getpid()}")
        self.tr = Tracer()
        self.rss = RssSampler()
        self.passes: dict[str, list[dict]] = defaultdict(list)
        #: share of machine CPU time stolen by other guests, per phase
        self.steal: dict[str, float] = {}
        self.phase_s: dict[str, float] = {}
        self.phase_end: dict[str, float] = {}
        self._last_mark = time.perf_counter()

    # ------------------------------------------------------------ lifecycle

    def environment(self) -> None:
        """Size the session for this machine through the settings the
        package reads, and keep every file the run writes in the checkout.
        The repository root goes on PYTHONPATH so Python workers import the
        package the same way the Python driver process does."""
        os.makedirs(self.tmp)
        env = {
            "SPARK_GRAFT_CPUS": str(self.cores),
            "SPARK_GRAFT_DRIVER_MEM": self.heap,
            "SPARK_GRAFT_IO_DIR": os.path.join(self.tmp, "io"),
            "SPARK_LOCAL_DIRS": os.path.join(self.tmp, "spark"),
            "TMPDIR": self.tmp,
            "PYTHONPATH": os.pathsep.join(
                [self.root, *filter(None, [os.environ.get("PYTHONPATH")])]),
            # every JVM: temp files here, and no perf-data file in /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            # The driver's heap is committed and touched at start, so the
            # peak memory counts the whole configured heap on every run, not
            # however far the JVM happened to grow it; what varies is the
            # memory outside the heap, in the JVM and in Python.
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Xms{self.heap} -XX:+AlwaysPreTouch' "
                f"--conf spark.sql.warehouse.dir={os.path.join(self.tmp, 'warehouse')} "
                "--conf spark.ui.showConsoleProgress=false "
                "pyspark-shell"),
        }
        os.environ.update(env)
        sys.path.insert(0, self.root)

    def stop_processes(self) -> None:
        """Stop Spark and its JVM, then wait for every child to end."""
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        kill_descendants()

    # --------------------------------------------------------------- phases

    def timed(self, phase: str, run_pass, passes: int = 0) -> None:
        """Whole passes until ``--seconds`` have passed, at least
        ``MIN_PASSES``; or exactly ``passes`` passes."""
        t0, (steal0, total0) = time.perf_counter(), cpu_jiffies()
        while (len(self.passes[phase]) < passes if passes else
               len(self.passes[phase]) < MIN_PASSES
               or time.perf_counter() - t0 < self.args.seconds):
            with self.tr.span("pass", "harness", kind="pass", phase=phase) as rec:
                run_pass(phase)
            self.passes[phase].append(rec)
        steal1, total1 = cpu_jiffies()
        self.steal[phase] = (steal1 - steal0) / max(total1 - total0, 1)

    def mark(self, phase: str) -> None:
        """Wall time of the run's phases, for the report."""
        now = time.perf_counter()
        self.phase_s[phase] = now - self._last_mark
        self.phase_end[phase] = self._last_mark = now

    def phase_at(self, t: float) -> str:
        """The phase that was running at perf_counter time ``t``."""
        return next((p for p, end in self.phase_end.items() if t <= end), "end")

    def measure(self) -> dict:
        a = self.args
        data_dir = gen.ensure(self.work)
        self.mark("generate")
        b = self.bench = Bench(self.tr, a.workload, data_dir, a.seed, self.cores)
        self.tr.counters = bool(a.trace)
        setup = b.setup(SETUP_REPS)
        self.tr.sc = b.spark.sparkContext
        if a.trace:
            b.counters = SparkCounters(b.spark.sparkContext)
        self.mark("setup")
        ratings_np = gen.ratings_arrays(data_dir)
        probe_start = b.host_probe(ratings_np)
        self.mark("probe_start")
        if a.workload == "tabular":
            b.ingest()
        self.mark("ingest")
        b.query_pass("check")
        if b.duck is not None:
            b.duck.close()
        self.mark("check")
        # passes down the noop-write path get faster for two or three
        # passes (code generation and JIT); the first ones are not timed
        for _ in range(WARMUP_PASSES):
            b.query_pass("warmup")
        self.mark("warmup")
        if a.trace:
            g0 = self.tr.group_s
            self.timed("traced", b.query_pass)
            self.group_calls_s = self.tr.group_s - g0
            self.tr.counters = False
            b.counters.drain()
            self.mark("traced")
            # untraced, as many passes, so the overhead compares equal work
            self.timed("timed", b.query_pass, passes=len(self.passes["traced"]))
        else:
            self.tr.counters = False
            self.timed("timed", b.query_pass)
        self.mark("timed")
        probe_end = b.host_probe(ratings_np)
        self.mark("probe_end")
        return {"setup": setup, "probe_start": probe_start, "probe_end": probe_end}

    # -------------------------------------------------------------- metrics

    def ops(self, phase: str) -> list[dict]:
        return [o for o in self.bench.ops if o["phase"] == phase]

    def spans_in(self, phase: str) -> list[dict]:
        ids = {p["id"] for p in self.passes[phase]}
        by_id = {s["id"]: s for s in self.tr.spans}

        def inside(s):
            while s["parent"] is not None:
                if s["parent"] in ids:
                    return True
                s = by_id[s["parent"]]
            return False

        return [s for s in self.tr.spans if inside(s)]

    def end_to_end(self, m: dict) -> dict:
        b = self.bench
        ops = self.ops("timed")
        by_query = defaultdict(list)
        for o in ops:
            by_query[o["name"]].append(dur(o))
        attempted = len(b.ops)
        failed = sum("error" in o for o in b.ops)
        ingest = [dur(s) for s in self.tr.spans if s["name"] == "data.ratings_cached"]
        return {
            "setup_s": {"value": median(m["setup"][1:]), "unit": "s",
                        "n": len(m["setup"]) - 1, "jvm_start_rep_s": m["setup"][0],
                        "reps": m["setup"][1:]},
            # one pass as the sum of each query's median: a stall in one
            # pass moves one sample of one query, not the whole figure
            "mix_s": {"value": sum(median(v) for v in by_query.values()), "unit": "s",
                      "n": len(ops), "passes": len(self.passes["timed"]),
                      "pass_wall_p50_s": median(dur(p) for p in self.passes["timed"])},
            "op_p50_s": {"value": median(dur(o) for o in ops), "unit": "s", "n": len(ops)},
            "peak_rss_mb": {"value": self.rss.peak_mb, "unit": "MB", "n": 1,
                            "parts_mb": self.rss.peak_parts,
                            "phase": self.phase_at(self.rss.peak_at)},
            "failed_share": {"value": failed / attempted, "unit": "ratio", "n": attempted},
            "ingest_s": {"value": sum(ingest), "unit": "s", "n": len(ingest)},
        }

    def per_layer(self, m: dict) -> tuple[dict, dict]:
        """Per-layer metrics of the traced passes, per pass, plus self time
        per layer.  Layers the workload never calls read 0."""
        b = self.bench
        phase = "traced"
        n_pass = len(self.passes[phase])
        spans = self.spans_in(phase)
        vals = {k: 0.0 for k in per_layer_units()}
        steps = defaultdict(list)
        for s in self.tr.spans:
            if s.get("kind") == "step":
                steps[s["name"]].append(s)
        # set-up repetitions after the first, as setup_s counts them
        for name in ("session.get_spark", "registry.load_operators", "data.first_read"):
            vals[f"{name}_s"] = median(dur(s) for s in steps[name][1:])
        ingest = steps.get("data.ratings_cached", [])
        vals["data.ratings_cached_s"] = sum(dur(s) for s in ingest)
        vals["data.ratings_cached.shuffle_mb"] = sum(
            j["shuffle_bytes"] for s in ingest for j in b.counters.jobs(f"pb:{s['id']}")) / 1e6
        vals["spark.storage_mb"] = max(
            [s.get("storage_mb", 0.0) for s in spans if s.get("kind") == "release"] or [0.0])
        ops = self.ops(phase)
        by_op = defaultdict(list)  # op id -> its spans
        for s in spans:
            by_op[s["op"]].append(s)
        for op in ops:
            layer = op["layer"]
            op_jobs = [j for s in by_op[op["id"]] for j in b.counters.jobs(f"pb:{s['id']}")]
            op["run_ms"] = sum(j["run_ms"] for j in op_jobs)
            for s in by_op[op["id"]]:
                if s.get("kind") in ("build", "action"):
                    vals[f"{layer}.{s['kind']}_s"] += dur(s) / n_pass
            vals[f"{layer}.jobs"] += len(op_jobs) / n_pass
            vals[f"{layer}.shuffle_mb"] += sum(j["shuffle_bytes"] for j in op_jobs) / 1e6 / n_pass
        for layer in OP_MODULES:
            wall = sum(dur(o) for o in ops if o["layer"] == layer)
            run = sum(o["run_ms"] for o in ops if o["layer"] == layer)
            vals[f"{layer}.core_util"] = run / 1e3 / (wall * self.cores) if wall else 0.0
        vals["host.probe_start_s"] = m["probe_start"]["probe_s"]
        vals["host.probe_end_s"] = m["probe_end"]["probe_s"]
        vals["baseline.numpy_epoch_s"] = median(
            [m["probe_start"]["numpy_epoch_s"], m["probe_end"]["numpy_epoch_s"]])
        vals["trace.overhead_s"] = (median(dur(p) for p in self.passes["traced"])
                                    - median(dur(p) for p in self.passes["timed"]))
        vals["trace.group_calls_s"] = self.group_calls_s / n_pass
        selfs = self_times(spans)
        by_layer = defaultdict(float)
        for s in spans:
            by_layer[s["layer"]] += selfs[s["id"]] / n_pass
        return vals, dict(sorted(by_layer.items()))

    def report(self, m: dict) -> tuple[dict, dict]:
        a, b = self.args, self.bench
        e2e = self.end_to_end(m)
        errors = defaultdict(int)
        for o in b.ops:
            if "error" in o:
                errors[o["error"]] += 1
        for e in b.errors:
            errors[e] += 1
        timed = defaultdict(list)
        for o in self.ops("timed"):
            timed[o["name"]].append(dur(o))
        full = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "config": {"cores": self.cores, "heap": self.heap, "scale": gen.SCALE,
                       "loop": "closed, 1 client", "setup_reps": SETUP_REPS,
                       "passes": {k: len(v) for k, v in self.passes.items()}},
            "phases_s": self.phase_s,
            "end_to_end": e2e,
            "ops_median_s": {k: median(v) for k, v in sorted(timed.items())},
            "errors": dict(errors),
            "notes": b.notes,
            "host": {"probe_start": m["probe_start"], "probe_end": m["probe_end"],
                     "cpu_steal_share": self.steal},
        }
        attempted, failed = len(b.ops), sum("error" in o for o in b.ops)
        last = {"correct": failed == 0 and not b.errors, "attempted": attempted,
                "failed": failed}
        if a.trace:
            vals, selfs = self.per_layer(m)
            units = per_layer_units()
            full["per_layer"] = {k: {"value": v, "unit": units[k]} for k, v in vals.items()}
            full["self_s"] = selfs
            last["metrics"] = full["per_layer"]
            with open(os.path.join(self.work, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(self.tr.spans, f, default=str)
        else:
            last["metrics"] = {k: {"value": e2e[k]["value"], "unit": u}
                               for k, u in END_TO_END.items()}
        return full, last


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(QUERIES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"perfbench: no {PKG}/ here; run from the repository root", file=sys.stderr)
        return 2
    run = Run(args, root)
    run.environment()

    def overtime():
        print(f"perfbench: no result within {DEADLINE_S} s", file=sys.stderr)
        kill_descendants()
        shutil.rmtree(run.tmp, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, overtime)
    watchdog.daemon = True
    watchdog.start()
    run.rss.start()
    try:
        measured = run.measure()
        run.rss.stop()
        full, last = run.report(measured)
    finally:
        t0 = time.perf_counter()
        run.stop_processes()
        shutil.rmtree(run.tmp, ignore_errors=True)
        print(f"perfbench: stopped in {time.perf_counter() - t0:.3f}s", file=sys.stderr)
    watchdog.cancel()
    print(json.dumps({"report": full}, default=str))
    print(json.dumps(last))
    return 0


if __name__ == "__main__":
    sys.exit(main())
