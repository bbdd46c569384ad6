"""build_session: its host-fit defaults (pure helper) and fixed confs."""

from __future__ import annotations

from ksql_linq_spark.session import host_defaults

GIB = 2**30


def test_host_defaults_follow_the_host_when_unset():
    # a quarter of physical RAM; the cores are the host's
    assert host_defaults({}, 4, 16 * GIB) == (4, "4096m")
    # capped at the 24 g measured on a 128 GiB host, floored at 1 g
    assert host_defaults({}, 32, 128 * GIB) == (32, "24576m")
    assert host_defaults({}, 2, 2 * GIB) == (2, "1024m")
    # os.cpu_count() may be None
    assert host_defaults({}, None, 8 * GIB) == (1, "2048m")


def test_host_defaults_env_overrides_win():
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    assert host_defaults(env, 4, 16 * GIB) == (8, "2g")
    # an empty variable counts as unset
    assert host_defaults({"SPARK_GRAFT_CPUS": ""}, 4, 16 * GIB) == (4, "4096m")


def test_build_session_pins_the_shuffled_hash_join_map_threshold(spark):
    # 64 MB, a literal: extra_conf is the one way to override a conf
    key = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    assert spark.conf.get(key) == str(64 * 1024 * 1024)
