"""Tiny JSON artifact IO through the Hadoop FileSystem API.

Model-sized artifacts (IVF-PQ indexes, BPE merge tables) need to live
NEXT TO the data they describe — on whatever filesystem the lake uses.
Writing goes through ``FileSystem.create`` and reading through
``FileSystem.open``, via py4j, so the same calls work on file://,
hdfs://, s3a://, ... — driver-side, with no Spark job.

Artifact names avoid a leading ``_`` or ``.``: Spark's input path
filter hides such files from any Spark reader of the directory (the
``_SUCCESS`` convention).
"""

from __future__ import annotations

import json
from typing import Any


def write_json_file(spark, path: str, payload: Any) -> None:
    """Serialize ``payload`` as JSON to a single file at ``path`` on
    any Hadoop-supported filesystem (overwrites)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        stream.close()


def replace_dir(spark, tmp: str, dest: str) -> None:
    """Replace directory ``dest`` with ``tmp`` via the Hadoop
    FileSystem API (two renames + a delete, so it works on file://,
    hdfs://, s3a://, ...). Used by the index compaction ops: the
    compacted store is fully written to ``tmp`` first, so a failure
    before the swap leaves the live store untouched; the swap itself
    keeps the previous store at ``dest + "__old"`` until the new one
    is in place (single-writer maintenance op — not concurrent-reader
    atomic; don't compact an index while queries are running against
    it)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path
    jtmp, jdest, jold = hpath(tmp), hpath(dest), hpath(dest + "__old")
    fs = jdest.getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.exists(jold):
        fs.delete(jold, True)
    if fs.exists(jdest) and not fs.rename(jdest, jold):
        raise IOError(f"replace_dir: could not stage {dest} aside")
    if not fs.rename(jtmp, jdest):
        fs.rename(jold, jdest)  # restore the previous store
        raise IOError(f"replace_dir: could not move {tmp} into {dest}")
    fs.delete(jold, True)


def read_json_file(spark, path: str) -> Any:
    """Read one JSON file written by :func:`write_json_file` (or any
    single-file JSON document) from any Hadoop-supported filesystem."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    stream = fs.open(jpath)
    try:
        data = sc._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(
            stream
        )
    finally:
        stream.close()
    if not data:
        raise ValueError(f"{path}: empty or unreadable JSON artifact")
    return json.loads(data)
