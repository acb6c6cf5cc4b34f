"""Sinks (SURVEY §2.1 S8-S11).

CSV sink mirrors cluster_creator.py:57-59 (centroid table with the vector
serialized as "[f, f, ...]"); JSON sink nuevo-kmeans-pre.ipynb:136 c9;
the upsert sink is merge_documents (ChunkLabelingProcesor.py:47-50)
re-expressed as join+overwrite (see operators.upsert for the join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import vector as V
from ..operators.upsert import upsert_fields
from ..session import bounded_collect


def _stringify_vectors(df: DataFrame) -> DataFrame:
    """CSV can't hold arrays: serialize array columns to "[f, f, ...]"."""
    out = df
    for field in df.schema.fields:
        if isinstance(field.dataType, T.ArrayType):
            out = out.withColumn(field.name, V.vector_to_string(field.name))
    return out


def write_csv(df: DataFrame, path: str) -> None:
    """S8 — CSV sink (df_final.to_csv, cluster_creator.py:57-59)."""
    _stringify_vectors(df).write.mode("overwrite").option("header", True).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """S10 — JSON sink (json.dump, nuevo-kmeans-pre.ipynb:136 c9)."""
    df.write.mode("overwrite").json(path)


def write_excel(df: DataFrame, path: str) -> None:
    """S9 — Excel sink (table.to_excel, analisis-informe.ipynb:1052 c38).

    Driver-side: bounded collect + the stdlib zip+XML codec
    (sources.xlsx) — no openpyxl dependency. Reporting-table sizes only;
    use write_csv or a parquet write for data.
    """
    from . import xlsx

    collected = bounded_collect(_stringify_vectors(df), 100_000)
    xlsx.write_xlsx(path, df.columns, [list(r) for r in collected])


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink — Spark's built-in columnar alternative to parquet
    (same pushdown/pruning levers; some lakes standardize on ORC)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_upsert(base_path: str, updates: DataFrame, key_col: str) -> None:
    """S11 — keyed upsert sink: read base, merge_documents-style partial
    update, atomic rewrite via staging path + rename.

    Plain parquet has no MERGE INTO; on Delta/Iceberg this becomes a real
    MERGE and only touched files rewrite. The commit is two renames:
    base -> .__old__, staging -> base, then delete .__old__. A reader
    never sees a half-written base (each rename is atomic on posix/HDFS);
    a crash between the renames leaves the data intact under .__old__
    (manual recovery), which is the strongest guarantee a bare filesystem
    offers — true transactional swap belongs to a table format, and
    object stores without atomic rename need a manifest either way.
    """
    spark = updates.sparkSession
    base = spark.read.format("parquet").load(base_path)
    merged = upsert_fields(base, updates, key_col)
    staging = base_path.rstrip("/") + ".__staging__"
    merged.write.mode("overwrite").format("parquet").save(staging)
    commit_swap(spark, staging, base_path)


def commit_swap(spark, staging: str, base_path: str, require_base: bool = True) -> None:
    """Install a staged directory over a base path via two renames:
    base -> .__old__, staging -> base, then delete .__old__ (shared by
    the upsert sink and the streaming aggregate maintenance).

    A reader never sees a half-written base (each rename is atomic on
    posix/HDFS); a crash between the renames leaves the data intact
    under .__old__ (manual recovery). Hadoop FileSystem.rename reports
    failure by returning FALSE, not by throwing — an unchecked failed
    rename would either leave old data in place or nest staging INSIDE
    the still-existing base dir, so both renames are checked, with a
    rollback keeping the table readable."""
    from py4j.java_gateway import java_import

    jvm = spark._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    base_p = jvm.Path(base_path)
    # the path's OWN filesystem — FileSystem.get(conf) is the default
    # scheme and throws Wrong FS for hdfs://s3a:// base paths
    fs = base_p.getFileSystem(spark._jsc.hadoopConfiguration())
    old_p = jvm.Path(base_path.rstrip("/") + ".__old__")
    fs.delete(old_p, True)  # leftover from a previous crashed commit
    if not fs.exists(base_p):
        # first install (streaming fold's initial epoch): one atomic rename
        if require_base:
            raise IOError(f"commit: base {base_path} does not exist")
        if not fs.rename(jvm.Path(staging), base_p):
            raise IOError(f"commit: rename {staging} -> {base_path} failed")
        return
    if not fs.rename(base_p, old_p):
        raise IOError(f"commit: rename {base_path} -> {old_p} failed")
    if not fs.rename(jvm.Path(staging), base_p):
        # roll back so the table stays readable at base_path; the
        # rollback rename is itself checked — if BOTH renames fail the
        # table is gone from base_path with the data stranded under
        # .__old__, and the error must name that recovery location
        if not fs.rename(old_p, base_p):
            raise IOError(
                f"commit: rename {staging} -> {base_path} failed AND "
                f"rollback rename failed — table data is intact under "
                f"{old_p} (rename it back to {base_path} to recover)"
            )
        raise IOError(f"commit: rename {staging} -> {base_path} failed")
    fs.delete(old_p, True)
