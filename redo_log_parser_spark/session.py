"""SparkSession factory with the pipeline's scale-oriented defaults.

AQE on (runtime re-plan, skew-join splitting, shuffle coalescing), Arrow
on (the parse kernel is an Arrow-batched pandas UDF), UTC session time
zone (XES timestamps are rendered with a fixed +00:00 offset,
TraceIDParser.scala:131-139).

Parallelism and driver memory come from the session, not from constants
(`session_confs`): a local master gets one shuffle partition per worker
thread, which measured fastest for this pipeline's many small jobs
(skew is left to AQE's skew-join splitting rather than over-sharding
every exchange), and the driver heap is a share of the host's memory.
Every session default is only a fallback: a key the caller passes or the
launcher sets (`spark-submit --conf`, `PYSPARK_SUBMIT_ARGS`,
spark-defaults.conf) is never overridden.

Environment overrides: SPARK_GRAFT_CPUS (the local core count),
SPARK_DRIVER_MEM (the driver heap) and SPARK_MASTER (a launcher supplies
the master; no local default is set).
"""

from __future__ import annotations

import os
import re
import shlex

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.ui.enabled": "false",
}

# the derived driver heap: half the host's memory (local mode runs every
# task in the driver JVM; the rest is left to Python workers and the OS),
# at most the 48 GiB this pipeline was sized with on a 128 GiB host
DRIVER_MEM_SHARE = 0.5
DRIVER_MEM_CAP_MB = 48 * 1024

_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:,\d+)?\])?")
_PROPERTY = re.compile(r"([^\s=:]+)\s*[=:\s]\s*(.*)")


def usable_cores() -> int:
    """Cores this process may run on (its CPU affinity, so a taskset or
    cgroup pin counts), unless SPARK_GRAFT_CPUS names a count."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    if hasattr(os, "sched_getaffinity"):  # Linux
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def mem_total_mb() -> int | None:
    """MemTotal from /proc/meminfo, or None where there is none."""
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def local_threads(master: str, cores: int) -> int | None:
    """Worker threads of a local master (`local` is one, `local[*]` is
    `cores`); None for any other master."""
    m = _LOCAL_MASTER.fullmatch(master.strip())
    if m is None:
        return None
    n = m.group(1)
    return 1 if n is None else cores if n == "*" else int(n)


def session_confs(
    master: str | None,
    launcher: dict[str, str],
    caller: dict[str, str],
    cores: int,
    mem_mb: int | None,
    env: dict[str, str],
) -> dict[str, str]:
    """The confs a new session's builder sets.

    `master` is the caller's explicit master, `launcher` the confs the
    launcher already gives the driver, `caller` the caller's confs,
    `cores` the usable core count (SPARK_GRAFT_CPUS applied), `mem_mb`
    the host's MemTotal and `env` the process environment. The caller's
    confs are set as given; a session default is set only for a key
    neither the caller nor the launcher set."""
    out = dict(caller)
    if master:
        out["spark.master"] = master
    effective_master = (
        out.get("spark.master")
        or launcher.get("spark.master")
        or env.get("SPARK_MASTER")
    )
    if effective_master is None:
        effective_master = out["spark.master"] = f"local[{cores}]"

    defaults = dict(DEFAULT_CONFS)
    threads = local_threads(effective_master, cores)
    if threads is not None:
        defaults["spark.sql.shuffle.partitions"] = str(threads)
    if env.get("SPARK_DRIVER_MEM"):
        defaults["spark.driver.memory"] = env["SPARK_DRIVER_MEM"]
    elif mem_mb:
        share = min(int(mem_mb * DRIVER_MEM_SHARE), DRIVER_MEM_CAP_MB)
        defaults["spark.driver.memory"] = f"{share}m"
    for key, value in defaults.items():
        if key not in out and key not in launcher:
            out[key] = value
    return out


def submit_args_conf(args: str) -> dict[str, str]:
    """The confs a `spark-submit` argument string sets (the `--conf`,
    `--master` and `--driver-memory` forms)."""
    flags = {"--master": "spark.master", "--driver-memory": "spark.driver.memory"}
    out: dict[str, str] = {}
    toks = shlex.split(args)
    for flag, value in zip(toks, toks[1:]):
        if flag in ("--conf", "-c") and "=" in value:
            key, _, val = value.partition("=")
            out[key] = val
        elif flag in flags:
            out[flags[flag]] = value
    return out


def _defaults_file_conf() -> dict[str, str]:
    """spark-defaults.conf, which spark-submit reads when it starts the
    driver's JVM."""
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf"), encoding="utf-8") as fh:
            return parse_properties(fh.read())
    except OSError:
        return {}


def parse_properties(text: str) -> dict[str, str]:
    """`key value` / `key=value` / `key:value` lines of a Java
    properties file such as spark-defaults.conf (no line continuations)."""
    out: dict[str, str] = {}
    for line in text.splitlines():
        m = _PROPERTY.fullmatch(line.strip())
        if m and not line.lstrip().startswith(("#", "!")):
            out[m.group(1)] = m.group(2)
    return out


def launcher_conf() -> dict[str, str]:
    """Confs the launcher gives the driver. Under spark-submit (or any
    launcher that hands Python a running JVM) these are the JVM's spark.*
    properties; otherwise PySpark will start the JVM itself through
    spark-submit with PYSPARK_SUBMIT_ARGS and spark-defaults.conf."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
        return dict(SparkConf().getAll())
    return {
        **_defaults_file_conf(),
        **submit_args_conf(os.environ.get("PYSPARK_SUBMIT_ARGS", "")),
    }


def get_spark(
    app_name: str = "redo-log-parser-spark",
    master: str | None = None,
    confs: dict[str, str] | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    derived = session_confs(
        master, launcher_conf(), confs or {}, usable_cores(), mem_total_mb(),
        dict(os.environ),
    )
    for k, v in derived.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
