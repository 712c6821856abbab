"""One benchmark run inside one process: start the session, set up the
inputs, warm up, measure a closed loop of operations, check every output,
and report.

    python3 -m perfbench.runner --workload NAME --seed N --seconds S --trace 0|1 \
        --result PATH

``perfbench/run.py`` is the command to use: it runs this module in a child
process under a hard deadline and cleans up every process the run started.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from perfbench import probes
from perfbench.workloads import WORKLOADS

SETUP_REPS = 3
SETUP_TIMEOUT_S = 60.0
OP_TIMEOUT_S = 90.0


# per-layer metrics every workload emits in a traced run
LAYER_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
    "spark.task_run_s", "spark.task_cpu_s", "spark.shuffle_write_mb",
    "cpu.client_s", "cpu.jvm_s", "cpu.engine_share", "cpu.idle_share",
)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith("_share") else "count"


class OpTimeout(Exception):
    pass


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; the caller
    writes them out when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.idx = len(t.spans)
        t.spans.append(
            {
                "name": self.name,
                "start": time.perf_counter(),
                "end": None,
                "parent": t._stack[-1] if t._stack else None,
                "run_id": t.run_id,
            }
        )
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.tracer._stack.pop()
        self.tracer.spans[self.idx]["end"] = time.perf_counter()
        return False


class RssSampler:
    """Peak RSS of the JVM and its Python workers (this process's
    descendants), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, probes.rss_bytes(probes.descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def guarded(spark, fn: Callable[[], object], timeout: float):
    """Run ``fn`` with a hard timeout: on expiry every Spark job and
    streaming query is cancelled, so the call returns with an error."""
    fired = threading.Event()

    def cancel():
        fired.set()
        spark.sparkContext.cancelAllJobs()
        for q in spark.streams.active:
            q.stop()

    timer = threading.Timer(timeout, cancel)
    timer.daemon = True
    timer.start()
    try:
        out = fn()
    finally:
        timer.cancel()
    if fired.is_set():
        raise OpTimeout(f"timed out after {timeout:.0f}s")
    return out


@dataclass
class OpRecord:
    wall: float = 0.0
    steps: Dict[str, float] = field(default_factory=dict)
    ok: bool = True
    traced: bool = False
    timed: bool = True
    errors: List[str] = field(default_factory=list)
    engine: Dict[str, float] = field(default_factory=dict)
    step_exchanges: Dict[str, float] = field(default_factory=dict)
    cpu: Dict[str, float] = field(default_factory=dict)
    probe_s: float = 0.0  # time spent inside the tracing probes


def _median_dicts(dicts: List[Dict[str, float]]) -> Dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d[k] for d in dicts if k in d) for k in sorted(keys)}


def start_session():
    from seq2rel_ds_spark.session import get_spark

    work = os.path.abspath(".perfbench")
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        cores=probes.nproc(),
        extra_conf={
            # keep every file the run writes inside the checkout
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # the engine counters read finished stages back from the status
            # store; keep enough of them for the longest operation
            "spark.ui.retainedStages": "5000",
            "spark.ui.retainedJobs": "5000",
            "spark.sql.ui.retainedExecutions": "5000",
        },
    )


class Run:
    """One run of one workload; ``execute`` returns the result dict."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work_dir: str, scale: float = 1.0, spark=None):
        self.name = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work_dir
        self.scale = scale
        self.spark = spark
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}")
        self.ops: List[OpRecord] = []

    # -- one operation --------------------------------------------------------

    def _run_steps(self, rec, steps, outputs, traced):
        """Steps in order, each timed; a traced operation also counts the
        Exchange nodes each step executed and the engine's totals."""
        counters = probes.EngineCounters(self.spark) if traced else None
        op_mark = counters.mark() if traced else None
        for name, fn in steps:
            p0 = time.perf_counter()
            mark = counters.mark() if traced else None
            rec.probe_s += time.perf_counter() - p0
            with self.tracer.span(f"step.{name}"):
                t0 = time.perf_counter()
                outputs[name] = guarded(self.spark, fn, OP_TIMEOUT_S)
                rec.steps[name] = time.perf_counter() - t0
            if traced:
                p0 = time.perf_counter()
                rec.step_exchanges[name] = counters.exchanges_since(mark)
                rec.probe_s += time.perf_counter() - p0
        if traced:
            p0 = time.perf_counter()
            rec.engine = counters.since(op_mark)
            rec.probe_s += time.perf_counter() - p0

    def _finish(self, rec: OpRecord, outputs: dict, op_dir: str, idx: int) -> OpRecord:
        """Untimed: check the operation's outputs and clean up after it."""
        if rec.ok:
            try:
                rec.errors += self.w.check(outputs)
            except Exception as e:  # noqa: BLE001
                rec.errors.append(f"check raised {type(e).__name__}: {e}")
            rec.ok = not rec.errors
        for err in rec.errors:
            print(f"perfbench: operation {idx} failed: {err}", file=sys.stderr)
        shutil.rmtree(op_dir, ignore_errors=True)
        return rec

    @staticmethod
    def _failed(rec: OpRecord, e: Exception) -> None:
        rec.ok = False
        rec.errors.append(f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}")
        traceback.print_exc(file=sys.stderr)

    def _warmup(self) -> None:
        """Untimed, checked warm-up operations.  Their steps run concurrently
        on nproc threads where the workload allows it, so the JVM's JIT gets
        through its warm-up in less wall time than one operation after
        another would take."""
        pending = []
        threads = probes.nproc() if self.w.warmup_concurrent else 1
        with self.tracer.span("warmup"), ThreadPoolExecutor(threads) as pool:
            for i in range(self.w.warmup_ops):
                op_dir = os.path.join(self.work, f"warmup{i}")
                futures = [
                    (name, pool.submit(guarded, self.spark, fn, OP_TIMEOUT_S))
                    for name, fn in self.w.steps(op_dir)
                ]
                pending.append((i, op_dir, futures))
            for i, op_dir, futures in pending:
                rec, outputs = OpRecord(timed=False), {}
                try:
                    for name, fut in futures:
                        outputs[name] = fut.result()
                except Exception as e:  # noqa: BLE001 - a failed operation is counted
                    self._failed(rec, e)
                self.ops.append(self._finish(rec, outputs, op_dir, i))

    def _op(self, idx: int, traced: bool) -> OpRecord:
        op_dir = os.path.join(self.work, f"op{idx}")
        outputs: Dict[str, object] = {}
        rec = OpRecord(traced=traced)
        cpu0 = probes.cpu_sample() if traced else None
        t_op = time.perf_counter()
        try:
            with self.tracer.span(f"op{idx}"):
                self._run_steps(rec, self.w.steps(op_dir), outputs, traced)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self._failed(rec, e)
        rec.wall = time.perf_counter() - t_op
        if traced:
            p0 = time.perf_counter()
            rec.cpu = probes.cpu_delta(cpu0, probes.cpu_sample())
            rec.probe_s += time.perf_counter() - p0
        return self._finish(rec, outputs, op_dir, idx)

    # -- the run ----------------------------------------------------------------

    def _setup(self) -> Dict[str, float]:
        times = {"setup.session_s": 0.0}
        if self.spark is None:
            with self.tracer.span("setup.session"):
                t0 = time.perf_counter()
                self.spark = start_session()
                times["setup.session_s"] = time.perf_counter() - t0
        self.w = WORKLOADS[self.name](self.spark, self.seed, self.scale)
        reps = []
        for i in range(SETUP_REPS):
            dest = os.path.join(self.work, f"inputs{i}")
            with self.tracer.span("setup.inputs"):
                t0 = time.perf_counter()
                guarded(self.spark, lambda: self.w.setup(dest), SETUP_TIMEOUT_S)
                reps.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(self.work, f"inputs{i - 1}"), ignore_errors=True)
        times["setup.inputs_s"] = statistics.median(reps)
        with self.tracer.span("setup.checks"):
            self.w.prepare_checks()
        return times

    def _measure(self) -> None:
        """Closed loop: one operation at a time until ``seconds`` have passed
        and enough operations were timed.  A traced run times its first
        half untraced and traces the rest."""
        start = time.perf_counter()
        idx = len(self.ops)
        while True:
            elapsed = time.perf_counter() - start
            timed = [o for o in self.ops if o.timed]
            n_traced = sum(o.traced for o in timed)
            n_plain = len(timed) - n_traced
            if self.trace:
                traced = n_plain >= 1 and elapsed >= self.seconds / 2
                done = elapsed >= self.seconds and n_traced >= 1 and traced
            else:
                traced, done = False, elapsed >= self.seconds and n_plain >= self.w.min_ops
            if done:
                return
            self.ops.append(self._op(idx, traced=traced))
            idx += 1

    def execute(self) -> dict:
        os.makedirs(self.work, exist_ok=True)
        with RssSampler() as rss:
            setup = self._setup()
            t0 = time.perf_counter()
            self._warmup()
            setup["setup.warmup_s"] = time.perf_counter() - t0
            self._measure()
            layers = self._layers() if self.trace else {}
            peak = rss.peak
        return self._result(setup, peak, layers)

    def _layers(self) -> dict:
        traced = [o for o in self.ops if o.traced and o.ok]
        if not traced:
            return {}
        stats = {
            "op_s": statistics.median(o.wall for o in traced),
            "step_s": _median_dicts([o.steps for o in traced]),
            "step_exchanges": _median_dicts([o.step_exchanges for o in traced]),
        }
        # the layer probes are one more attempted operation
        rec = OpRecord(timed=False)
        self.ops.append(rec)
        with self.tracer.span("layers"):
            try:
                return guarded(self.spark, lambda: self.w.layers(stats), OP_TIMEOUT_S)
            except Exception as e:  # noqa: BLE001
                rec.ok = False
                print(f"perfbench: layer probes failed: {e}", file=sys.stderr)
                return {}

    def _result(self, setup: Dict[str, float], peak: int, named_layers: dict) -> dict:
        timed = [o for o in self.ops if o.timed and o.ok]
        plain = [o for o in timed if not o.traced]
        traced = [o for o in timed if o.traced]
        failed = sum(1 for o in self.ops if not o.ok)
        metrics: Dict[str, dict] = {}
        lines: List[str] = []
        setup_s = sum(setup.values())
        if plain:
            step_s = _median_dicts([o.steps for o in plain])
            e2e = {
                "op_s": (statistics.median(o.wall for o in plain), "s"),
                "setup_s": (setup_s, "s"),
            }
            named = self.w.named(step_s)
            if not self.trace:
                metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            lines += [f"metric {k} {v:.6g} {u}" for k, (v, u) in {**e2e, **named}.items()]
        if self.trace and traced:
            layer = {
                "mem.peak_rss_mb": (peak / 2**20, "MB"),
                "setup.session_s": (setup["setup.session_s"], "s"),
                "setup.inputs_s": (setup["setup.inputs_s"], "s"),
                "trace.overhead_s": (statistics.median(o.probe_s for o in traced), "s"),
            }
            engine = _median_dicts([o.engine for o in traced])
            cpu = _median_dicts([o.cpu for o in traced])
            for k in LAYER_METRICS:
                if k in engine or k in cpu:
                    layer[k] = (engine.get(k, cpu.get(k)), _unit(k))
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            # figures a layer may leave at zero on some workloads are printed,
            # not emitted as metrics
            shown = {"setup.warmup_s": (setup["setup.warmup_s"], "s")}
            shown.update({k: (v, _unit(k)) for k, v in {**engine, **cpu}.items() if k not in layer})
            shown.update(named_layers)
            if plain:
                shown["trace.traced_minus_untraced_s"] = (
                    statistics.median(o.wall for o in traced)
                    - statistics.median(o.wall for o in plain),
                    "s",
                )
            lines += [f"layer {k} {v:.6g} {u}" for k, (v, u) in {**layer, **shown}.items()]
        complete = bool(traced) if self.trace else bool(plain)
        return {
            "correct": failed == 0 and complete,
            "attempted": len(self.ops),
            "failed": failed if complete else max(failed, 1),
            "metrics": metrics,
            "lines": lines,
            "samples": {"timed_ops": len(timed), "traced_ops": len(traced)},
            "spans": self.tracer.spans,
        }


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        res = run.execute()
        res["box"] = probes.box_info(root, run.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["workload"], res["seed"], res["trace"] = args.workload, args.seed, args.trace
    with open(args.result, "w") as f:
        json.dump(res, f)
    # the JVM and its workers are stopped by the parent command, which waits
    # for every process of the run to end
    return 0


if __name__ == "__main__":
    sys.exit(main())
