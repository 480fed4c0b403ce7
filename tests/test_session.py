"""``get_spark``'s checkpoint file manager default: the FileSystem-based
manager on a local master, unless a caller or the session names one."""

from __future__ import annotations

from kafka_sparkstreaming_sbt_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    FS_CHECKPOINT_MANAGERS,
    get_spark,
    wants_fs_checkpoint_manager,
)


def test_local_master_sets_a_loadable_fs_checkpoint_manager(spark):
    assert spark.sparkContext.master.startswith("local[")
    name = spark.conf.get(CHECKPOINT_MANAGER_KEY, None)
    assert name in FS_CHECKPOINT_MANAGERS
    loaded = spark._jvm.org.apache.spark.util.Utils.classForName(
        name, False, False
    )
    assert loaded.getName() == name


def test_extra_conf_manager_is_left_untouched(spark):
    before = spark.conf.get(CHECKPOINT_MANAGER_KEY, None)
    mine = "com.example.streaming.MyCheckpointFileManager"
    try:
        session = get_spark(
            app_name="tests", shuffle_partitions=8,
            extra_conf={CHECKPOINT_MANAGER_KEY: mine},
        )
        assert session.conf.get(CHECKPOINT_MANAGER_KEY) == mine
    finally:
        if before is None:
            spark.conf.unset(CHECKPOINT_MANAGER_KEY)
        else:
            spark.conf.set(CHECKPOINT_MANAGER_KEY, before)


def test_only_an_unset_local_master_takes_the_fs_manager():
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert wants_fs_checkpoint_manager(master, None)
        assert not wants_fs_checkpoint_manager(master, "a.Manager")
    for master in (
        "yarn", "spark://host:7077", "k8s://https://host:6443",
        "local-cluster[2,1,1024]",
    ):
        assert not wants_fs_checkpoint_manager(master, None)
