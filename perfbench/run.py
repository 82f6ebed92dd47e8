"""Benchmark for redo_log_parser_spark: one seeded workload per run.

    python3 perfbench/run.py --workload dedup_dense --seed 1 --seconds 1 --trace 0

Run from the repository root. A run generates its input and ground truth
from the seed (perfbench/gen.py), then starts one fresh Spark session in
a child process (perfbench/child.py) at local[<nproc>] with the
program's own session defaults, except a driver memory fitted to the
host and scratch directories inside .perfbench_run/. The session runs a
closed loop of passes (one client, one pass at a time) for --seconds
from the start of its first, cold pass, at least that one, and checks
every pass's output against the truth (perfbench/workloads.py).

The second-to-last stdout line holds the details (host, effective
confs, every pass); the last is {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are end to end: rows_per_s
(input rows over the run's median pass), first_pass_s, setup_s (child
start until its session has run one trivial job) and peak_rss_mb (the
session's process tree: driver, JVM, Python workers). With --trace 1
they are the per-layer numbers of perfbench/spans.py.

Not measured here: the CLI's bucketed path (jobs/run_pipeline.py
--buckets; per-bucket discovery writes more traces than the one-job
path), local[1]-vs-local[N] scaling (bench_extra.py scaling-median),
and parse_sql, streaming and the ANN operators (on no default path of
these workloads).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Input sizes. On a 4-core host set-up takes ~12 s, a fk_traces pass
# runs ~100 Spark jobs (~47 s cold, ~28 s warm) and a dedup_dense pass
# ~24 (~20 s cold, ~5 s warm), almost regardless of rows. A 1 s loop
# therefore makes every run one cold pass in a fresh session, as
# jobs/run_pipeline.py runs the pipeline: a run stays near a minute, and
# a cold pass spreads far less from run to run than a single warm one
# (IQR/median 0.09 against 0.24 on dedup_dense). Warm passes show in a
# traced run as trace.untraced_pass_s. parse_route runs only on
# request: every layer it calls is also measured on fk_traces, and a
# third workload would push a full set of repeated runs past an hour.
SIZES = {"parse_route": 60_000, "fk_traces": 20, "dedup_dense": 2_000}
CHILD_TIMEOUT_S = 165


def host_facts() -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def driver_memory(mem_total_mb: int) -> str:
    """A quarter of the host's memory, at most 8 GiB: the program's 48g
    default does not fit small hosts, and the host is shared."""
    return f"{min(8192, mem_total_mb // 4)}m"


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of `root` and all its descendants."""
    parent, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm", encoding="ascii") as fh:
                rss[int(name)] = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return sum(rss.get(p, 0) for p in tree)


class RssSampler(threading.Thread):
    """Peak resident memory of one process tree, sampled every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


def prepare(workload: str, seed: int, work: str, size: int | None = None) -> int:
    """Generate the seeded input and its truth into `work`; returns the
    input row count."""
    size = size or SIZES[workload]
    docs_path = os.path.join(work, "docs.parquet")
    inputs = {"docs": docs_path, "table_dict": None, "lang_map": None}
    if workload == "parse_route":
        docs, truth = gen.gen_parse_route(seed, size)
        truth = truth.__dict__
        inputs["table_dict"] = [
            {"table_id": t, "clean_name": t.split(".")[1].strip('"'),
             "n_cols": len(cols)} for t, cols in gen.PR_TABLES.items()]
        inputs["lang_map"] = [{"lang": l, "lang_name": l.upper()} for l in gen.LANGS]
    elif workload == "fk_traces":
        from redo_log_parser_spark.fixtures import enrichment_dims

        docs, truth = gen.gen_fk_traces(seed, size)
        truth = truth.__dict__
        table_dict, lang_map = enrichment_dims()
        inputs["table_dict"] = table_dict.to_dict("records")
        inputs["lang_map"] = lang_map.to_dict("records")
    else:
        docs = gen.gen_dedup_dense(seed, size)
        truth = gen.dedup_truth(docs).__dict__
    gen.write_documents(docs, docs_path)
    inputs["rows"] = len(docs)
    for name, obj in (("inputs.json", inputs), ("truth.json", truth)):
        with open(os.path.join(work, name), "w", encoding="utf-8") as fh:
            json.dump(obj, fh)
    return len(docs)


def child_env(root: str, work: str, mem_total_mb: int) -> dict:
    env = dict(os.environ)
    # Python workers import the package and perfbench's modules by path
    env["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["SPARK_DRIVER_MEM"] = driver_memory(mem_total_mb)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # keep the JVM's temp files and perf data inside the checkout too
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def _group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if name.isdigit() and fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(name))
    return pids


def _kill_group(pgid: int) -> None:
    """SIGKILL a session child's process group and wait until it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while _group_members(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_child(args: list[str], env: dict) -> tuple[float, int, dict]:
    """Run one session child. Returns (seconds from its start until its
    session ran a trivial job, peak RSS of its process tree, its result)."""
    t0 = time.perf_counter()
    # its own process group, so the JVM and Python workers can be
    # stopped with it
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), *args],
        stdout=subprocess.PIPE, env=env, text=True, start_new_session=True)
    watchdog = threading.Timer(CHILD_TIMEOUT_S, _kill_group, (proc.pid,))
    watchdog.start()
    sampler = RssSampler(proc.pid)
    sampler.start()
    ready, result = None, None
    try:
        for line in proc.stdout:
            if not line.startswith("{"):
                continue
            msg = json.loads(line)
            if msg.get("event") == "ready" and ready is None:
                ready = time.perf_counter() - t0
            elif msg.get("event") == "result":
                result = msg
        proc.wait(timeout=CHILD_TIMEOUT_S)
    finally:
        watchdog.cancel()
        peak = sampler.stop()
        _kill_group(proc.pid)
        proc.wait()
    if proc.returncode != 0 or ready is None or result is None:
        raise RuntimeError(f"session child exited with {proc.returncode}")
    return ready, peak, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM still stop the session child and remove the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "redo_log_parser_spark", "__init__.py")):
        print("perfbench: run from the repository root "
              "(redo_log_parser_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    host = host_facts()
    work = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        rows = prepare(args.workload, args.seed, work)
        env = child_env(root, work, host["mem_total_mb"])
        steal0 = cpu_steal()
        setup, peak, res = run_child(
            ["--workload", args.workload, "--work", work, "--cores",
             str(host["nproc"]), "--trace", str(args.trace), "--seconds",
             str(args.seconds)],
            env)
        steal1 = cpu_steal()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = res["passes"]
    failed = sum(1 for p in passes if p["wall_s"] is None)
    host["steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    # a failed pass counts as missing every timing
    walls = [p["wall_s"] if p["wall_s"] is not None else float("inf")
             for p in passes if not p["traced"]]
    detail = {"workload": args.workload, "seed": args.seed, "rows": rows,
              "host": host, "confs": res["confs"], "timed_passes": len(walls),
              "passes": passes, "problems": res["problems"]}
    if args.trace:
        from spans import metric_names, metric_unit

        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": metric_unit(k)}
                   for k in metric_names()}
        detail["unattributed_jobs"] = res["unattributed_jobs"]
        detail["spans"] = res["spans"]
    else:
        med = statistics.median(walls)
        metrics = {
            "rows_per_s": {"value": rows / med, "unit": "rows/s"},
            "first_pass_s": {"value": min(walls[0], CHILD_TIMEOUT_S), "unit": "s"},
            "setup_s": {"value": setup, "unit": "s"},
            "peak_rss_mb": {"value": peak / 1e6, "unit": "MB"},
        }
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
