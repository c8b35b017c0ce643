"""Processes the JVM forks for a streaming run, counted so that host load
cannot move the count.

Without Hadoop's native library, the local filesystem forks `readlink`
for the link status FileContext's rename asks for, and `chmod` for
every file or directory it creates with a permission. ``get_spark``
routes a local master's streaming checkpoints through Spark's
FileSystem-based checkpoint manager, whose rename forks nothing. A
session started in a subprocess, with logging `readlink` and `chmod`
shims first on its ``PATH``, runs ``streaming_daily_counts`` twice;
the second, warm run forks no `readlink`.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from aws_etl_global_footprint_network_spark.session import REPO_ROOT

SHIM = """#!/bin/sh
echo "{name} $*" >> "$FORK_LOG"
exec {real} "$@"
"""

SCRIPT = """
import json, sys
from collections import Counter
sys.path.insert(0, {repo!r})
from aws_etl_global_footprint_network_spark.registry import load_all
from aws_etl_global_footprint_network_spark.session import get_spark

spark = get_spark(app_name="forks", master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.ui.showConsoleProgress": "false",
                              "spark.sql.warehouse.dir": {warehouse!r}}})
jvm = spark.sparkContext._jvm
manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
created = manager.create(
    jvm.org.apache.hadoop.fs.Path({ckpt!r}),
    spark._jsparkSession.sessionState().newHadoopConf(),
)
print("MANAGER", created.getClass().getName())
print("NATIVE", json.dumps(bool(jvm.org.apache.hadoop.io.nativeio.NativeIO.isAvailable())))
spec = load_all()["streaming_daily_counts"]
for run in (1, 2):
    open({log!r}, "w").close()
    spec.builder(spark, {sf_dir!r}).collect()
    with open({log!r}) as f:
        print(f"FORKS{{run}}", json.dumps(Counter(line.split()[0] for line in f)))
spark.stop()
"""


def test_warm_streaming_run_forks_no_readlink(tmp_path, sf_dir):
    shims = tmp_path / "shims"
    shims.mkdir()
    for name in ("readlink", "chmod"):
        path = shims / name
        path.write_text(SHIM.format(name=name, real=shutil.which(name)))
        path.chmod(0o755)
    log = str(tmp_path / "forks.log")
    script = SCRIPT.format(
        repo=REPO_ROOT,
        warehouse=str(tmp_path / "wh"),
        ckpt=str(tmp_path / "ckpt"),
        log=log,
        sf_dir=sf_dir,
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        PATH=f"{shims}{os.pathsep}{env['PATH']}",
        FORK_LOG=log,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    printed = dict(line.partition(" ")[::2] for line in out.stdout.splitlines())
    assert printed["MANAGER"] == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    warm = json.loads(printed["FORKS2"])
    assert warm.get("readlink", 0) == 0, warm
    if not json.loads(printed["NATIVE"]):
        # 20 for the checkpoint's directories, metadata and one batch's
        # offset, commit and source-log entries, and 5 per state
        # partition (its directory, the delta file, the delta's
        # checksum file, a .crc of each); 60 at 8 state partitions
        assert warm.get("chmod", 0) == 30, warm
