"""Benchmark command: run one workload of the spark-kg engine and print its
metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout.  The run happens in a child process
(``perfbench.runner``) under a hard deadline; afterwards every process the
run started is stopped and waited for.  Human-readable lines go to stdout
first; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  The run's spans and
box description are written to ``.perfbench/trace-<workload>-<seed>-<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.workloads import WORKLOADS  # noqa: E402  (stdlib-only at import)

DEADLINE_S = 170.0


def _session_members(sid: int) -> list:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        if int(fields[3]) == sid:  # session id
            out.append(int(name))
    return out


def _stop_all(child: subprocess.Popen, graceful: bool) -> None:
    """Kill whatever is left of the run's session and wait until it is gone;
    a run past its deadline gets SIGKILL at once, so the command still ends
    within its own limit."""
    sid = child.pid
    for sig in (signal.SIGTERM, signal.SIGKILL) if graceful else (signal.SIGKILL,):
        for pid in _session_members(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if child.poll() is None:
            try:
                child.wait(timeout=5)
            except subprocess.TimeoutExpired:
                pass
        t_end = time.monotonic() + 5
        while _session_members(sid) and time.monotonic() < t_end:
            time.sleep(0.1)
        if not _session_members(sid):
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "seq2rel_ds_spark"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print(
            "perfbench: run from the root of a spark-kg checkout "
            "(seq2rel_ds_spark/ and __spark_entry__.py not found here)",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, f"result-{os.getpid()}.json")
    env = dict(os.environ)
    env.update(
        {
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            "PYTHONUNBUFFERED": "1",
        }
    )
    cmd = [
        sys.executable, "-m", "perfbench.runner",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result,
    ]
    child = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True)
    code = None
    try:
        code = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"perfbench: run exceeded {DEADLINE_S:.0f}s and was stopped", file=sys.stderr)
    finally:
        _stop_all(child, graceful=code is not None)

    if code != 0 or not os.path.exists(result):
        print(f"perfbench: run failed (exit code {code}); no result", file=sys.stderr)
        return 1
    with open(result) as f:
        res = json.load(f)
    os.remove(result)
    trace_path = os.path.join(work, f"trace-{args.workload}-{args.seed}-{args.trace}.json")
    with open(trace_path, "w") as f:
        json.dump(
            {k: res[k] for k in ("workload", "seed", "trace", "box", "samples", "lines", "spans")},
            f,
        )
    print("box " + json.dumps(res["box"], sort_keys=True))
    print(
        f"workload {args.workload} seed {args.seed} trace {args.trace}: "
        f"{res['attempted']} operations, {res['failed']} failed, "
        f"{res['samples']['timed_ops']} timed ({res['samples']['traced_ops']} traced)"
    )
    for line in res["lines"]:
        print(line)
    print(
        json.dumps(
            {k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
            sort_keys=False,
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
