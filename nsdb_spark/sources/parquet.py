"""Parquet reads with a remembered schema.

`spark.read.parquet(path)` without a schema infers one from the files'
footers, and Spark runs that inference as a job of its own, even for a
single file. NSDb keeps a metric's schema in its registry and never
re-derives it from data; `read_parquet` applies the same rule to the
parquet sources read by path (the testdata tables, the rollup stores): the
first read of a file version infers its schema, every later read of that
version passes the remembered schema and runs no job.
"""
from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

from ..cache import TokenCache

#: the SQL confs that change what Spark infers from the same footers
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: (absolute path, inference conf values) -> inferred schema, valid under
#: the token (0, file signature): a rewritten file, or a directory whose
#: files were swapped, misses and is inferred again
_SCHEMAS = TokenCache()


def _raise(err: OSError) -> None:
    raise err


def _signature(path: str) -> tuple:
    """(inode, size, mtime_ns) of a file, or (relative path, inode, size,
    mtime_ns) of every *.parquet file under a directory; raises OSError
    when path, or a file listed under it, is gone."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return ((st.st_ino, st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path, onerror=_raise):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                s = os.stat(p)
                out.append((os.path.relpath(p, path), s.st_ino, s.st_size, s.st_mtime_ns))
    return tuple(sorted(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path), with the schema inferred on the first
    read of this version of path's files passed on every later one. A
    path whose signature cannot be taken (gone, or mid-swap) or that holds
    no parquet file is read plainly, so it fails as an unknown path
    does."""
    path = os.path.abspath(path)
    try:
        sig = _signature(path)
    except OSError:
        sig = None
    if not sig:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    token = (0, sig)
    schema = _SCHEMAS.get(key, token)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS.put(key, token, df.schema)
    return df
