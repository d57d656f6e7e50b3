"""Small JSON documents next to Spark-written tables, written and read on
the driver through the session's Hadoop ``FileSystem``: no Spark job.

A persisted index keeps its driver-side model (build parameters, a
codebook) this way.  As a one-row Parquet table the model cost a write job
to store and a ``collect`` job on every load.  Paths go through
``org.apache.hadoop.fs.Path``, so any path Spark's writer accepts (a plain
local path, ``file:``, ``hdfs://``, ``s3a://``) works here too.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path`` under the session's
    Hadoop configuration."""
    sc = spark.sparkContext
    jp = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(sc._jsc.hadoopConfiguration()), jp


def _replace(fs, src, dest) -> None:
    """Rename ``src`` onto ``dest``.  Hadoop's rename does not overwrite
    on every FileSystem (HDFS returns false when ``dest`` exists), so an
    old ``dest`` is deleted first, and a false return raises."""
    fs.delete(dest, False)
    if not fs.rename(src, dest):
        raise OSError(f"could not rename {src.toString()} to {dest.toString()}")


def write_json(spark: SparkSession, path: str, doc) -> None:
    """Store ``doc`` as JSON at ``path`` so that the file exists only when
    it is complete: the bytes go to a hidden temporary file in the same
    directory, which then replaces ``path``.  On failure the temporary
    file is removed and the error raised; ``path`` then holds its old
    document or none, never a partial one."""
    data = json.dumps(doc).encode()
    fs, dest = _fs_path(spark, path)
    tmp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        dest.getParent(), f"_{dest.getName()}.{uuid.uuid4().hex}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        try:
            out.write(data)
        finally:
            out.close()
        _replace(fs, tmp, dest)
    except BaseException:
        fs.delete(tmp, False)
        raise


def delete_json(spark: SparkSession, path: str) -> None:
    """Remove the document at ``path``, if there is one."""
    fs, p = _fs_path(spark, path)
    fs.delete(p, False)


def read_json(spark: SparkSession, path: str):
    """The document :func:`write_json` stored at ``path``."""
    fs, p = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        return json.loads(stream.readAllBytes())
    finally:
        stream.close()
