"""Snapshot-engine benchmark: run one seeded workload through bravo_spark.

    python3 perfbench/run.py --workload savepoint_scan --seed 1 --seconds 5 --trace 0

Load shape: a closed loop with one client. This process, the Spark driver, runs
operations back to back in one ``local[N]`` Spark session, N = the CPUs this
process may use. A run starts the session and builds the workload's fixture
(``setup_s`` is the two together), runs the first operation and the
workload's ``warmup`` more untimed, then times operations for ``--seconds``
and at least the workload's ``ops`` of them; the statistics use the first
``ops``. Every output is checked against
values computed from the seeded generator.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` restarts the
session and traces its first operation, then alternates traced and untraced
operations and prints the per-layer metrics named in BENCHMARK.json,
including the tracing overhead. The last line of stdout
is one JSON object; details (samples, spans, per-layer self time) go to
``.perfbench_out/`` at the repository root. The exit code is non-zero when
an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies every fixture size (the smoke test uses a tiny one)")
    return p.parse_args(argv)


def _configure_env(work: str, cpus: int, trace: bool) -> str | None:
    """Keep Spark, its JVM and its Python workers inside ``work``. Traced,
    the Python workers count the bytes they read from files under ``work``
    (``worker_io/sitecustomize.py``); returns the directory of their logs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT, os.environ.get("PYTHONPATH")]
    io_log = None
    if trace:
        io_log = os.path.join(work, "io")
        os.makedirs(io_log, exist_ok=True)
        paths.insert(0, os.path.join(ROOT, "perfbench", "worker_io"))
        os.environ.update({"PERFBENCH_IO_ROOT": work + os.sep, "PERFBENCH_IO_LOG": io_log})
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, paths)),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    return io_log


class Session:
    """The benchmark's Spark session, restartable in the same JVM."""

    def __init__(self, cpus: int):
        self.cpus = cpus
        self.spark = None

    def start(self):
        from bravo_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(master=f"local[{self.cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the gateway JVM and wait for every process this
        run started."""
        from pyspark import SparkContext

        from perfbench.trace import tree_pids

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while (left := tree_pids()[1:]) and time.monotonic() < deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGTERM)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def _span_metrics(spans: list[dict]) -> dict[str, float]:
    def total(pred):
        return sum(s["end"] - s["start"] for s in spans if pred(s["layer"], s["kind"]))

    m = {
        "api.plan_build_s": total(lambda _l, k: k == "build"),
        "savepoint.write_call_s": total(lambda l, k: l == "savepoint" and k == "write"),
        "savepoint.read_action_s": total(lambda l, k: l == "savepoint" and k == "action"),
        "savepoint.meta_read_s": total(lambda l, k: l == "savepoint" and k == "meta"),
    }
    from perfbench.workloads import SHARD_FORMATS

    for fmt in SHARD_FORMATS:
        layer = f"shards.{fmt}"
        m[f"{layer}.write_s"] = total(lambda l, k: l == layer and k == "write")
        m[f"{layer}.read_s"] = total(lambda l, k: l == layer and k in ("build", "action"))
    return m


class Runner:
    def __init__(self, args, work: str, cpus: int, io_log: str | None):
        import numpy as np

        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.args, self.work, self.cpus, self.io_log = args, work, cpus, io_log
        self.workload = WORKLOADS[args.workload](np.random.default_rng(args.seed), args.scale)
        self.session = Session(cpus)
        self.tracer = Tracer(bool(args.trace))
        self.store = None
        self.attempted = self.failed = 0
        self.bytes_per_row: list[float] = []
        self.started = time.perf_counter()

    def _restart(self):
        from perfbench.trace import SparkStore

        spark = self.session.start()
        self.store = SparkStore(spark) if self.args.trace else None
        return spark

    def op(self, fixture: dict, label: str, traced: bool):
        """One timed operation: (wall seconds, tree CPU seconds, layer
        readings or None). Checks the output; a failure is counted."""
        from perfbench.trace import take_worker_reads, tree_cpu_s
        from perfbench.workloads import clear

        spark, w, tr = self.session.spark, self.workload, self.tracer
        out_dir = os.path.join(self.work, "out", label)
        sc = spark.sparkContext
        sc.setJobDescription(f"perfbench {w.name} {label}")
        tr.enabled, tr.op = traced, label
        self.attempted += 1
        if self.io_log:
            take_worker_reads(self.io_log)  # drop what earlier operations read
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            result = tr.call("op", "op", w.op, spark, tr, fixture, out_dir)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            sc.setJobDescription(None)
        layers = None
        if self.store is not None:
            if traced:
                t = time.perf_counter()
                layers = self.store.collect(wall, self.cpus)
                layers["trace.store_read_s"] = time.perf_counter() - t
                layers.update(tr.take_counts())
                if w.worker_reads:
                    files, nbytes = take_worker_reads(self.io_log)
                    layers[w.worker_reads[0]], layers[w.worker_reads[1]] = files, nbytes
                layers.update(_span_metrics(tr.op_spans(label)))
            else:
                self.store.skip()
        if not w.check(fixture, result, out_dir):
            print(f"perfbench: {w.name} {label}: output check failed", file=sys.stderr)
            self.failed += 1
        self.bytes_per_row.append(w.snapshot_bytes_per_row(fixture, out_dir))
        clear(out_dir)
        return wall, cpu, layers

    def run(self) -> dict:
        from perfbench.trace import jvm_peak_heap_mb, tree_peak_rss_mb

        w, tr, trace = self.workload, self.tracer, bool(self.args.trace)
        t0 = time.perf_counter()
        spark = self._restart()
        session_s = time.perf_counter() - t0
        tr.enabled, tr.op = trace, "setup"
        t0 = time.perf_counter()
        fixture = w.setup(spark, tr, os.path.join(self.work, "fixture"))
        build_s = time.perf_counter() - t0
        if trace:
            # what a one-shot job pays: a fresh session with new Python workers
            self._restart()
        # untraced, the warm-up: the read path's first use in this session
        first = self.op(fixture, "first", trace)
        # the next operations are still much slower than later ones (JIT,
        # Python worker pool); timing them would add that curve to the spread
        for i in range(w.warmup):
            self.op(fixture, f"warm{i}", False)

        # Operations keep getting faster over many repetitions as the JVM
        # and the Python workers warm up. The statistics use the first
        # ``w.ops`` operations after the warm-up, so that a slower machine,
        # which fits fewer operations into the window, is not also measured
        # earlier on that curve.
        timed = {True: [], False: []}

        def short() -> bool:
            return len(timed[False]) < w.ops or (trace and len(timed[True]) < w.ops)

        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while (time.perf_counter() < t_end or short()) and self.failed <= w.ops:
            traced = trace and i % 2 == 1
            got = self.op(fixture, f"op{i}", traced)
            if got:
                timed[traced].append(got)
            i += 1
        rss, _jvm_rss = tree_peak_rss_mb()
        base = timed[False][: w.ops]
        if not base:
            raise RuntimeError(f"{w.name}: no operation succeeded")
        op_p50 = statistics.median(g[0] for g in base)
        samples = {
            "session_start_s": session_s, "fixture_s": build_s,
            "first_op_s": first[0] if first else None,
            "op_s": [g[0] for g in timed[False]], "cpu_s": [g[1] for g in timed[False]],
        }
        e2e = {
            "setup_s": session_s + build_s,
            "op_p50_s": op_p50,
            "state_rows_per_s": w.rows_per_op / op_p50,
            "cpu_s_per_op": statistics.median(g[1] for g in base),
            "peak_rss_mb": rss,
            "snapshot_bytes_per_row": statistics.median(self.bytes_per_row),
        }
        layers = {}
        if trace and first:
            per_op = [g[2] for g in timed[True][: w.ops]]
            names = {n for d in per_op for n in d}
            layers = {n: statistics.median(d.get(n, 0.0) for d in per_op) for n in names}
            # most operations run no collection: a mean
            layers["spark.jvm_gc_s"] = statistics.fmean(
                d.get("spark.jvm_gc_s", 0.0) for d in per_op)
            layers["spark.jvm_peak_heap_mb"] = jvm_peak_heap_mb(spark)
            layers["session.first_op_s"] = first[0]
            for n in ("arrow.python_boot_s", "arrow.python_init_s"):
                layers[n] = first[2].get(n, 0.0)
            layers["arrow.python_init_warm_s"] = statistics.median(
                d.get("arrow.python_init_s", 0.0) for d in per_op)
            scanned = layers.get("checkpoint.versions_scanned", 0.0)
            layers["checkpoint.live_ratio"] = (
                layers.get("checkpoint.keys_resolved", 0.0) / scanned if scanned else 0.0)
            layers["trace.overhead_ratio"] = (
                statistics.median(g[0] for g in timed[True][: w.ops]) / op_p50)
            layers.update(w.codec_rates(fixture))
            if not layers.get("savepoint.write_call_s"):
                # read workloads: the savepoint writer runs in the fixture build
                setup = tr.op_spans("setup")
                layers["savepoint.write_call_s"] = _span_metrics(setup)["savepoint.write_call_s"]
                layers["savepoint.bytes_written"] = fixture.get("bytes", 0) if any(
                    s["layer"] == "savepoint" for s in setup) else 0
            samples["traced_op_s"] = [g[0] for g in timed[True]]
        samples["run_s"] = time.perf_counter() - self.started
        return {"e2e": e2e, "layers": layers, "samples": samples}


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bravo_spark", "__init__.py")):
        print(f"perfbench: no bravo_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, clear

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    io_log = _configure_env(work, cpus, bool(args.trace))
    runner = Runner(args, work, cpus, io_log)
    try:
        out = runner.run()
    finally:
        runner.session.close()
        clear(work)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out["layers"] if args.trace else out["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    detail_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(detail_dir, exist_ok=True)
    detail = {"args": vars(args), "cpus": cpus, **out, "result": result}
    if args.trace:
        from perfbench.trace import self_times

        detail["spans"] = runner.tracer.spans
        detail["self_time_s"] = {
            f"{layer}/{kind}": t for (layer, kind), t in self_times(runner.tracer.spans).items()}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(detail_dir, name), "w") as f:
        json.dump(detail, f, indent=1)

    n_ops = len(out["samples"]["op_s"])
    print(f"perfbench {args.workload} seed={args.seed} local[{cpus}]: "
          f"{n_ops} untraced ops after {1 + runner.workload.warmup} warm-up ops "
          f"(op_p50_s is the median of the first {runner.workload.ops} of them)")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
