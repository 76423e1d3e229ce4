"""Benchmark command: one run of one workload in a fresh process tree.

    python3 perfbench/run.py --workload mesh_analysis --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run:

1. makes a fresh per-run directory under `.perfbench/` and points the
   session's index cache, Spark local dirs, temp dirs and warehouse there;
2. starts `runner.py` in a new process (its own process group) on a
   `local[<cpus>]` session, `SPARK_GRAFT_CPUS` = the CPUs this process
   may use;
3. samples the memory (summed PSS) of that process tree (driver, its
   JVM, Python workers) from /proc every `RSS_INTERVAL_S` seconds;
4. waits for it, stops whatever is left of the tree, reads its result,
   removes the per-run directory and prints the metrics.

With `--trace 0` the last line holds the end-to-end metrics, with
`--trace 1` the per-layer ones (see BENCHMARK.json). The line before it
is a readable summary: sample counts, error rate, the warm per-query
p50/p90 and the `SPARK_GRAFT_*` values the run used. Traced runs also write their spans
to `.perfbench/traces/<workload>-seed<seed>.json`.
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
import threading
import time

from workloads import DATA_DIR, HERE, LAYERS, ROOT, WORKLOADS

RSS_INTERVAL_S = 0.2
#: The whole run, set-up included, must end well inside this.
RUN_TIMEOUT_S = 170.0
#: Driver memory for the session. The package default (24g) is larger
#: than a small box has, and a bounded heap keeps peak memory steady
#: between runs.
DRIVER_MEM = "1g"

LAYER_METRICS = (
    "construct_s",
    "execute_s",
    "cold_construct_s",
    "construct_jobs",
    "cold_construct_jobs",
    "execute_jobs",
    "task_s",
    "shuffle_bytes",
    "spill_bytes",
    "python_s",
    "python_bytes",
    "failed_tasks",
    "failed",
)
#: Units of the metrics printed with --trace 1.
PER_LAYER_UNITS = {
    **{m: "s" for m in LAYER_METRICS if m.endswith("_s")},
    **{m: "count" for m in LAYER_METRICS if not m.endswith("_s")},
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "python_bytes": "B",
}


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so the forked Python workers' shared
    libraries count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeRss:
    """Peak resident memory (summed PSS) of a process and all its
    descendants (the runner, its JVM, the Python worker daemon and its
    workers), sampled from /proc on a background thread. Also remembers
    every process group seen in the tree, so the whole tree can be
    stopped afterwards: the worker daemon puts itself and its workers in
    a group of their own."""

    def __init__(self, pid: int, interval_s: float = RSS_INTERVAL_S):
        self.pid = pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self.pgids = {pid}
        #: process name -> (count, PSS MiB) in the peak sample
        self.peak_by_name: dict[str, tuple[int, float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _sample(self) -> None:
        procs: dict[int, tuple[int, int, str]] = {}  # pid -> (ppid, pgid, name)
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            name = stat[stat.index("(") + 1 : stat.rindex(")")]
            procs[int(entry)] = (int(fields[1]), int(fields[2]), name)
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total, todo, by_name = 0, [self.pid], {}
        while todo:
            pid = todo.pop()
            if pid in procs:
                _, pgid, name = procs[pid]
                self.pgids.add(pgid)
                pss = _pss_bytes(pid)
                total += pss
                n, mb = by_name.get(name, (0, 0.0))
                by_name[name] = (n + 1, mb + pss / 2**20)
            todo += children.get(pid, [])
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_name = by_name
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()


def _alive(pgids: set[int]) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if os.getpgid(int(entry)) in pgids:
                    return True
            except OSError:
                continue
    return False


def _stop_groups(pgids: set[int]) -> None:
    """SIGTERM, then SIGKILL, the given process groups; wait until empty."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        for pgid in pgids:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _alive(pgids):
                return
            time.sleep(0.05)


def _quantile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method)."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _warm_query_times(res: dict) -> list[float]:
    """construct + execute of every query in the untraced warm passes."""
    return [
        sum(v)
        for p in res["warm"]
        if not p["traced"]
        for v in p["queries"].values()
        if v is not None
    ]


def end_to_end(res: dict, spawned: float, rss: TreeRss) -> dict[str, tuple[float, str]]:
    cold = [v for v in res["cold"]["queries"].values() if v is not None]
    warm = [p for p in res["warm"] if not p["traced"]]
    return {
        "setup_s": (res["ready"] - spawned, "s"),
        "cold_pass_s": (sum(map(sum, cold)), "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
    }


def per_layer(res: dict, spawned: float, index_files: int) -> dict[str, tuple[float, str]]:
    spans = res["spans"]
    warm_traced = [p["name"] for p in res["warm"] if p["traced"]]
    warm_untraced = [p["wall_s"] for p in res["warm"] if not p["traced"]]
    out: dict[str, tuple[float, str]] = {}

    def per_pass_median(layer: str, span: str, key: str) -> float:
        totals = []
        for name in warm_traced:
            prefix = f"{name}/"
            totals.append(
                sum(
                    s["end"] - s["start"] if key == "time" else s[key]
                    for s in spans
                    if s["layer"] == layer
                    and s["span"] == span
                    and s["trace_id"].startswith(prefix)
                )
            )
        return statistics.median(totals)

    def cold_total(layer: str, key: str) -> float:
        return sum(
            s["end"] - s["start"] if key == "time" else s[key]
            for s in spans
            if s["layer"] == layer
            and s["span"] == "construct"
            and s["trace_id"].startswith("cold/")
        )

    for layer in LAYERS:
        failed = sum(1 for f in res["failures"] if res["layers"].get(f["query"]) == layer)
        values = {
            "construct_s": per_pass_median(layer, "construct", "time"),
            "execute_s": per_pass_median(layer, "execute", "time"),
            "cold_construct_s": cold_total(layer, "time"),
            "construct_jobs": per_pass_median(layer, "construct", "jobs"),
            "cold_construct_jobs": cold_total(layer, "jobs"),
            "execute_jobs": per_pass_median(layer, "execute", "jobs"),
            "failed_tasks": sum(
                s["failed_tasks"] for s in spans if s["layer"] == layer and s["span"] != "query"
            ),
            "failed": failed,
        }
        for key in ("task_s", "shuffle_bytes", "spill_bytes", "python_s", "python_bytes"):
            values[key] = per_pass_median(layer, "construct", key) + per_pass_median(
                layer, "execute", key
            )
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = (values[m], PER_LAYER_UNITS[m])
    out["session.start_s"] = (res["session_started"] - spawned, "s")
    out["session.warm_s"] = (res["ready"] - res["session_started"], "s")
    out["sources.index_cache_writes"] = (index_files, "count")
    traced_walls = [p["wall_s"] for p in res["warm"] if p["traced"]]
    out["trace.overhead_s"] = (
        statistics.median(traced_walls) - statistics.median(warm_untraced),
        "s",
    )
    return out


def _count_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "data_framework_spark", "registry.py")):
        print("perfbench: data_framework_spark is not in this checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("cwd", "tmp", "local", "index_cache")}
    for d in dirs.values():
        os.makedirs(d)
    graft_env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_INDEX_CACHE": dirs["index_cache"],
    }
    env = {
        k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")
    } | graft_env
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        # every JVM of the run (spark-submit's launcher too) keeps its
        # temp files in the run directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "runner.log")
    cmd = [
        sys.executable,
        os.path.join(HERE, "runner.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--data", DATA_DIR,
        "--out", out_path,
    ]
    # a SIGTERM (a timeout in the caller) unwinds through the finally
    # below, so the runner's process tree never outlives this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = None
    try:
        with open(log_path, "w") as log:
            spawned = time.monotonic()
            child = subprocess.Popen(
                cmd, cwd=dirs["cwd"], env=env, stdout=log, stderr=log,
                start_new_session=True,
            )
            rss = TreeRss(child.pid)
            with rss:
                try:
                    code = child.wait(timeout=RUN_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    code = None
        if code != 0 or not os.path.exists(out_path):
            with open(log_path) as f:
                tail = f.read()[-4000:]
            print(f"perfbench: runner failed (exit {code})\n{tail}", file=sys.stderr)
            return 1
        with open(out_path) as f:
            res = json.load(f)
        index_files = _count_files(dirs["index_cache"])
    finally:
        if rss is not None:
            _stop_groups(rss.pgids)
            child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(len(p["queries"]) for p in [res["cold"], res["settle"], *res["warm"]])
    failed = len(res["failures"])
    warm_times = _warm_query_times(res)
    if args.trace:
        metrics = per_layer(res, spawned, index_files)
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(res["spans"], f)
    else:
        metrics = end_to_end(res, spawned, rss)
    summary = {
        "workload": args.workload,
        "queries": len(res["layers"]),
        "warm_passes": len(res["warm"]),
        "settle_pass_wall_s": res["settle"]["wall_s"],
        "warm_pass_walls_s": [round(p["wall_s"], 3) for p in res["warm"]],
        "wall_s": time.monotonic() - spawned,
        "error_rate": failed / attempted,
        # Printed, not gated: a run has 9-16 warm query samples from 3-4
        # distinct queries, so these quantiles each follow one query's
        # time and swing more between runs than the bounds allow.
        "warm_query_samples": len(warm_times),
        "query_p50_s": statistics.median(warm_times) if warm_times else None,
        "query_p90_s": _quantile(warm_times, 90) if len(warm_times) > 1 else None,
        "rss_interval_s": RSS_INTERVAL_S,
        "rss_samples": rss.samples,
        "peak_rss_by_process": {k: (n, round(mb)) for k, (n, mb) in rss.peak_by_name.items()},
        "env": graft_env | {"SPARK_GRAFT_INDEX_CACHE": "<per-run dir, removed after>"},
        "failures": res["failures"][:5],
    }
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
