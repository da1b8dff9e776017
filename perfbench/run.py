#!/usr/bin/env python3
"""Lifecycle benchmark for hadoop_search_spark.

Run from the repository root:

    python3 perfbench/run.py --workload text_lifecycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Each workload runs in a fresh child process on ``local[nproc]`` with
inputs generated from ``--seed``. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs with spans and Spark job
groups and prints the per-layer metrics (spans are also written to
``.perfbench-traces/``). Every answer is checked; a wrong or failed one
counts in ``failed``. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

All scratch files live in a temporary directory under
``.perfbench-tmp/`` that is removed afterwards, and every process the
run starts is stopped before it exits.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("text_lifecycle", "ann_lifecycle")
# a child's fixed work (JVM start, offline phases, updates) plus the
# closed-loop window: 170 s at the 10 s window of BENCHMARK.json
CHILD_FIXED_S = 120
CHILD_WINDOW_FACTOR = 5
DRIVER_MEMORY = "1g"


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, session id, command name) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read().decode("ascii", "replace")
            fields = stat[stat.rindex(")") + 2 :].split()
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            out[int(name)] = (int(fields[1]), int(fields[3]), comm)
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
    return out


def _tree(table, root: int) -> set[int]:
    """``root`` and its descendants, plus anything left in its session."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _sid, _comm) in table.items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in found:
            continue
        found.add(pid)
        todo.extend(kids.get(pid, []))
    found |= {pid for pid, (_p, sid, _c) in table.items() if sid == root}
    return found & table.keys()


def _rss_bytes(pid: int) -> int:
    """Resident set size. (PSS would count the pages forked workers
    share once, but reading it walks the page tables under the target's
    memory-map lock, about 4 ms per read of a Spark JVM.)"""
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0  # the process ended while we looked


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""  # ended, or not ours to read


def _is_spawn(table, pid: int) -> bool:
    """A JVM child that has not yet exec'd its program (a Python worker,
    or ``chmod`` for a local write): it still shares the JVM's memory,
    so its RSS would count the JVM twice."""
    parent = _exe(table[pid][0])
    return parent.endswith("/java") and _exe(pid) == parent


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled every 200 ms."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            table = _proc_table()
            total = sum(
                _rss_bytes(p) for p in _tree(table, self.root)
                if not _is_spawn(table, p)
            )
            self.peak = max(self.peak, total)
            self._halt.wait(0.2)

    def stop(self):
        self._halt.set()
        self.join()


def _reap(root: int) -> None:
    """Kill whatever the child left behind and wait until it is gone."""
    deadline = time.monotonic() + 20
    while True:
        left = _tree(_proc_table(), root) - {root}
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {sorted(left)} did not exit")
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _env(tmp: str, cpus: int) -> dict:
    local = os.path.join(tmp, "spark-local")
    scratch = os.path.join(tmp, "tmp")
    for d in (local, scratch):
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        # Spark's Python workers import the package (the Porter pandas UDF)
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=scratch,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                f"--driver-java-options -Djava.io.tmpdir={scratch}",
                f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
                "--conf spark.ui.showConsoleProgress=false",
                "--conf spark.ui.retainedJobs=100000",
                "--conf spark.ui.retainedStages=100000",
                "pyspark-shell",
            ]
        ),
    )
    return env


def run_workload(name: str, args) -> dict | None:
    """One workload in a fresh child process; None if it failed."""
    base = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{name}-", dir=base)
    try:
        result_path = os.path.join(tmp, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "child.py"),
            "--workload", name, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--tmp", tmp, "--result", result_path, "--scale", str(args.scale),
        ]
        if args.trace:
            traces = os.path.join(ROOT, ".perfbench-traces")
            os.makedirs(traces, exist_ok=True)
            cmd += ["--spans", os.path.join(traces, f"{name}-seed{args.seed}.jsonl")]
        cpus = len(os.sched_getaffinity(0))
        child = subprocess.Popen(
            cmd, env=_env(tmp, cpus), cwd=ROOT, stdout=sys.stderr,
            start_new_session=True,
        )
        sampler = RssSampler(child.pid)
        sampler.start()
        timeout = CHILD_FIXED_S + CHILD_WINDOW_FACTOR * args.seconds
        try:
            code = child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"{name}: timed out after {timeout:g} s", file=sys.stderr)
            code = None
        finally:
            sampler.stop()
            _reap(child.pid)
            if child.poll() is None:
                child.kill()
            child.wait()
        if code != 0 or not os.path.exists(result_path):
            print(f"{name}: child exited with {code}", file=sys.stderr)
            return None
        with open(result_path, encoding="utf-8") as f:
            result = json.load(f)
        if not args.trace:
            result["metrics"]["peak_rss_mb"] = sampler.peak / 1e6
        result["named"]["peak_rss_mb"] = [sampler.peak / 1e6, "MB"]
        return result
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="shrink every input size by this factor (smoke tests)",
    )
    args = p.parse_args(argv)
    if args.seconds <= 0 or args.scale <= 0:
        p.error("--seconds and --scale must be positive")
    missing = [
        x for x in (
            "BENCHMARK.json", "hadoop_search_spark/__init__.py", "tests/brute_force.py",
        )
        if not os.path.exists(os.path.join(ROOT, x))
    ]
    if missing:
        print(f"cannot run: {', '.join(missing)} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        res = run_workload(name, args)
        if res is None:
            return 1
        results[name] = res
        print(f"{name}  attempted={res['attempted']} failed={res['failed']}")
        for problem in res["problems"]:
            print(f"  wrong: {problem}")
        for key, (value, unit) in sorted(res["named"].items()):
            print(f"  {key} = {value:.6g} {unit}")

    def metric(v, name):
        return {"value": v, "unit": units[name]}

    if len(names) == 1:
        metrics = {k: metric(v, k) for k, v in results[names[0]]["metrics"].items()}
    else:
        metrics = {
            f"{w}.{k}": metric(v, k)
            for w, r in results.items() for k, v in r["metrics"].items()
        }
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
