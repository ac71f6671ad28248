"""Streaming checkpoints go through Spark's FileSystem-based manager.

Without the native Hadoop library, Hadoop's local filesystem runs a
shell command for two kinds of file operation: ``FileContext`` resolves
symlinks with ``readlink``, and ``setPermission`` runs ``chmod``. Spark's
default checkpoint manager renames every offset, commit and state file
through ``FileContext``, so a 160-file stream drain ran 153 commands,
112 of them ``readlink``. ``session.build_session`` selects the
FileSystem-based manager instead.

The first test runs a small Purchases stream in a child process whose
``PATH`` starts with logging ``readlink`` and ``chmod`` wrappers; the
child's JVM inherits that ``PATH``, so every command Hadoop starts is
logged. Run as a script, this file is that child.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError

MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing"
WRAPPED = ("readlink", "chmod")


def _wrap_commands(bin_dir: pathlib.Path, log: pathlib.Path) -> None:
    """Put a logging wrapper for each of ``WRAPPED`` in ``bin_dir``."""
    bin_dir.mkdir()
    for cmd in WRAPPED:
        real = shutil.which(cmd)
        wrapper = bin_dir / cmd
        wrapper.write_text(f'#!/bin/sh\necho {cmd} >> "{log}"\nexec {real} "$@"\n')
        wrapper.chmod(0o755)


def test_stream_restart_runs_no_readlink(tmp_path):
    bin_dir, log = tmp_path / "bin", tmp_path / "commands.log"
    _wrap_commands(bin_dir, log)
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, __file__, str(tmp_path / "work"), str(log)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["data_batches"] == [2, 1]
    # The wrappers work: Hadoop still runs chmod when it creates files.
    assert result["commands"].get("chmod", 0) > 0
    assert result["commands"].get("readlink", 0) == 0


def test_checkpoint_manager_keeps_the_second_writer_guard(spark, tmp_path):
    """The metadata logs rely on ``createAtomic(path, overwrite=False)``
    failing at close when ``path`` already exists: that is how a second
    writer of the same batch id loses. The FileSystem-based manager
    keeps that check; on a local disk both managers end in rename(2)."""
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    existing = tmp_path / "0"
    existing.write_text("first writer")
    path = jvm.org.apache.hadoop.fs.Path(str(existing))
    manager = getattr(jvm, MANAGERS).CheckpointFileManager.create(path, hadoop_conf)
    assert manager.getClass().getName() == f"{MANAGERS}.FileSystemBasedCheckpointFileManager"

    out = manager.createAtomic(path, False)
    out.write(b"second writer")
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    # Spark raises its own SparkFileAlreadyExistsException, a subclass.
    already_exists = jvm.org.apache.hadoop.fs.FileAlreadyExistsException._java_lang_class
    assert already_exists.isInstance(err.value.java_exception)
    assert existing.read_text() == "first writer"


def _child(work: str, log: str) -> None:
    """Two micro-batches, then a restart from the checkpoint for one
    more; check the store against the batch aggregate, then print the
    data batches per run and the commands the wrappers logged while the
    streams ran."""
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
    from collections import Counter

    from _kafka_streams_scaffold_spark import session
    from _kafka_streams_scaffold_spark.sources import filetopic
    from _kafka_streams_scaffold_spark.streaming import pipeline, serving

    import test_stream_file_listing as topic

    spark = session.build_session("checkpoint-files", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    topic_dir, ckpt = os.path.join(work, "topic"), os.path.join(work, "ckpt")
    store = serving.MemoryStore(["key"])
    if os.path.exists(log):
        os.remove(log)

    def run() -> int:
        stream = (
            spark.readStream.schema(filetopic.TOPIC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic_dir)
        )
        q = pipeline.run_update_into_store(
            pipeline.streaming_purchases(topic._events(filetopic.consume_decoded(stream))),
            store, ckpt,
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    topic._land_files(topic_dir, 0, 2)
    batches = [run()]
    topic._land_files(topic_dir, 2, 1)
    batches.append(run())
    commands = Counter(pathlib.Path(log).read_text().split() if os.path.exists(log) else [])
    topic._assert_store_matches_batch(spark, topic_dir, store)
    spark.stop()
    print(json.dumps({"data_batches": batches, "commands": commands}))


if __name__ == "__main__":
    _child(*sys.argv[1:3])
