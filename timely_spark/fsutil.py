"""How a persisted artifact is written, read and replaced.

Every durable artifact (point store, meta catalog, persistent indexes,
hot-cache archive, rollup tiers) is Parquet tables from the Spark writer
plus, where it needs parameters, ONE JSON sidecar. This module owns the
driver-side rest of that layout; no other module re-implements it:

- **Sidecars are JSON files through the Hadoop FileSystem API**: they
  land on whatever filesystem owns the path (file://, hdfs://, s3a://)
  at zero Spark jobs (a one-row Parquet sidecar cost a job per write and
  per read, 1.5-7 s on a shared host). ``json.dumps`` emits
  shortest-round-trip reprs, so doubles survive byte-exactly.
- **A rewrite swaps in one recoverable order** (:func:`rewrite_in_place`):
  the new table is written to ``<path>__compacting``; then current ->
  ``<path>__old``, compacted -> current, delete ``__old``. A crash
  between the renames leaves the previous data parked at ``__old``, not
  deleted. Readers between the renames see a missing table, so rewrites
  are maintenance jobs, never inline with queries.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists on the filesystem that owns it (a
    driver-local ``os.path`` probe is always false for a URI)."""
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Sorted names of the directories directly under ``path``; empty
    when ``path`` does not exist."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
    )


def delete_path(spark: SparkSession, path: str) -> None:
    """Delete ``path`` recursively; a missing path is not an error."""
    fs, p = _fs_path(spark, path)
    fs.delete(p, True)


def sidecar_write_json(spark: SparkSession, path: str, obj: dict) -> None:
    """Write ``obj`` as JSON at ``path`` (overwrite), via the Hadoop FS
    that owns the path. Zero Spark jobs."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


def sidecar_read_json(spark: SparkSession, path: str) -> dict | None:
    """Read a JSON sidecar written by :func:`sidecar_write_json`;
    ``None`` when the file does not exist. Zero Spark jobs."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(data)


def rewrite_in_place(
    spark: SparkSession, path: str, write: Callable[[str], None]
) -> None:
    """Replace the table at ``path`` with what ``write(tmp)`` writes to
    ``tmp``, swapping in the recoverable order of the module docstring.
    ``write`` may read ``path``: nothing there moves until it returns."""
    path = path.rstrip("/")
    tmp, old = path + "__compacting", path + "__old"
    write(tmp)
    fs, cur = _fs_path(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    old_p = jpath(old)
    fs.delete(old_p, True)  # stale leftover from a crashed prior swap
    if not fs.rename(cur, old_p):
        raise IOError(f"rewrite: could not move {path} aside")
    if not fs.rename(jpath(tmp), cur):
        raise IOError(f"rewrite: swap failed; previous table preserved at {old}")
    fs.delete(old_p, True)
