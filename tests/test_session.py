"""Session sizing: the pure derivation of a new session's confs
(`session.session_confs`) and the launcher-conf readers. No test here
starts a Spark session of its own."""

import os

import pytest

from redo_log_parser_spark.session import (
    DEFAULT_CONFS,
    launcher_conf,
    local_threads,
    parse_properties,
    session_confs,
    submit_args_conf,
    usable_cores,
)

PARTS = "spark.sql.shuffle.partitions"
MEM = "spark.driver.memory"


def derive(master=None, launcher=None, caller=None, cores=4, mem_mb=16_000, env=None):
    return session_confs(master, launcher or {}, caller or {}, cores, mem_mb, env or {})


def _mb(value: str) -> int:
    units = {"m": 1, "g": 1024, "t": 1024 * 1024}
    return int(value[:-1]) * units[value[-1].lower()]


def test_local_n_gets_n_partitions():
    out = derive(master="local[4]", cores=16)
    assert out[PARTS] == "4"
    assert out["spark.master"] == "local[4]"


def test_local_star_and_no_master_get_the_core_count():
    assert derive(master="local[*]", cores=7)[PARTS] == "7"
    out = derive(cores=7)
    assert out["spark.master"] == "local[7]"
    assert out[PARTS] == "7"


@pytest.mark.parametrize("master,threads", [
    ("local", 1), ("local[3]", 3), ("local[3,2]", 3), ("local[*]", 6),
    ("local[*,4]", 6), ("yarn", None), ("spark://h:7077", None),
    ("k8s://https://h:443", None), ("local-cluster[2,1,1024]", None),
])
def test_local_threads(master, threads):
    assert local_threads(master, 6) == threads


def test_usable_cores_follows_affinity_and_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert usable_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert usable_cores() == 3


def test_env_overrides_win():
    out = derive(cores=3, env={"SPARK_DRIVER_MEM": "3g"})
    assert out[MEM] == "3g"
    assert out["spark.master"] == "local[3]"


@pytest.mark.parametrize("key,value", [(PARTS, "200"), (MEM, "2g")])
def test_launcher_values_are_left_untouched(key, value):
    for env in ({}, {"SPARK_DRIVER_MEM": "3g"}):
        out = derive(master="local[4]", launcher={key: value}, env=env)
        assert key not in out


def test_launcher_master_is_not_replaced():
    out = derive(launcher={"spark.master": "local[2]"})
    assert "spark.master" not in out
    assert out[PARTS] == "2"


def test_caller_confs_win_over_launcher_and_defaults():
    caller = {PARTS: "8", MEM: "4g", "spark.ui.enabled": "true"}
    out = derive(master="local[4]", launcher={PARTS: "200", MEM: "2g"},
                 caller=caller)
    assert {k: out[k] for k in caller} == caller


def test_non_local_master_gets_no_partition_default():
    for master in ("yarn", "spark://h:7077"):
        assert PARTS not in derive(master=master)
        assert PARTS not in derive(launcher={"spark.master": master})
    out = derive(env={"SPARK_MASTER": "yarn"})
    assert PARTS not in out and "spark.master" not in out


def test_static_defaults_fill_only_unset_keys():
    out = derive(launcher={"spark.sql.session.timeZone": "Europe/Berlin"})
    assert "spark.sql.session.timeZone" not in out
    for k, v in DEFAULT_CONFS.items():
        if k != "spark.sql.session.timeZone":
            assert out[k] == v


@pytest.mark.parametrize("mem_mb", [512, 4_000, 15_700, 128_000, 2_000_000])
def test_driver_memory_never_exceeds_memtotal(mem_mb):
    value = derive(mem_mb=mem_mb)[MEM]
    assert 0 < _mb(value) <= mem_mb
    assert _mb(value) <= 48 * 1024


def test_no_driver_memory_without_meminfo():
    assert MEM not in derive(mem_mb=None)


def test_submit_args_conf():
    args = ("--master local[2] --conf spark.sql.shuffle.partitions=6 "
            "-c spark.a=b=c --driver-memory 2g --name x pyspark-shell")
    assert submit_args_conf(args) == {
        "spark.master": "local[2]", PARTS: "6", "spark.a": "b=c", MEM: "2g",
    }
    assert submit_args_conf("pyspark-shell") == {}


def test_parse_properties():
    text = ("# comment\n! comment\n\nspark.master   yarn\n"
            "spark.driver.memory=6g\nspark.x: y z \n")
    assert parse_properties(text) == {
        "spark.master": "yarn", MEM: "6g", "spark.x": "y z"}


def test_launcher_conf_reads_submit_args_and_defaults_file(monkeypatch, tmp_path):
    (tmp_path / "spark-defaults.conf").write_text(
        f"{PARTS} 12\n{MEM} 5g\n", encoding="utf-8")
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-memory 3g pyspark-shell")
    assert launcher_conf() == {PARTS: "12", MEM: "3g"}


def test_shared_session_keeps_its_explicit_confs(spark):
    assert spark.conf.get(PARTS) == "8"
    assert spark.sparkContext.getConf().get(MEM) == "4g"
