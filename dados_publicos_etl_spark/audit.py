"""Audit / monitoring (reference A1-A4, K7, O4).

The reference audits each pipeline layer by re-downloading every file
and counting rows in pandas, serially
(/root/reference/src/monitoring/monitor.py:38-100 — O(total bytes)
per step), then streaming one JSON row into BigQuery
(monitor.py:123-164).

Spark-first replacement:
- counts ride along with the job via ``df.observe`` (zero extra
  scans — the reference's eager ``df.count()`` at script.py:49 cost a
  full extra pass);
- when a layer must be audited at rest, the file count comes from
  the listing the scan already holds (``df.inputFiles()``, no job) and
  the row count from one ``count()`` over a scan read with an empty
  schema (no schema inference, no columns decoded), replacing the
  serial per-file loop;
- the audit row is an append-mode single-row DataFrame with the
  reference's exact schema (schemas.MONITORING).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dados_publicos_etl_spark.schemas import MONITORING


@dataclass
class AuditResult:
    step: str
    qtd_files: int
    qtd_rows: int
    dt_start: str
    dt_end: str


def observe_counts(df: DataFrame, name: str = "audit") -> tuple[DataFrame, Observation]:
    """Attach a row-count observation to a plan; the metric becomes
    available after the next action with NO extra scan."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("qtd_rows")), obs


def count_layer(spark: SparkSession, path: str, fmt: str = "parquet",
                **options) -> tuple[int, int]:
    """(n_files, n_rows) of a storage layer with one ``count()``
    (reference: serial pandas loop, monitor.py:70-121).

    A count needs no columns, so the layer is read with an empty
    schema: no schema-inference job, and a layer holding no data file
    (only ``_SUCCESS``) counts ``(0, 0)`` instead of raising
    ``UNABLE_TO_INFER_SCHEMA``.  ``n_files`` is the number of data
    files listed under ``path`` (hidden and ``_``-prefixed files
    excluded), the reference's A4 rule of counting non-directory blobs
    (monitor.py:102-121) — a 0-row part file counts as a file.
    """
    df = (
        spark.read.format(fmt).schema(StructType()).options(**options)
        .load(path)
    )
    return len(df.inputFiles()), df.count()


def _now() -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S")


def monitoring_row(
    spark: SparkSession,
    nm_project: str,
    step: str,
    qtd_files: int,
    qtd_rows: int,
    dt_start: str,
    dt_end: str,
) -> DataFrame:
    """One audit row with the reference's schema
    (monitor.py:142-150), UUID generated engine-side."""
    base = spark.range(1).select(
        F.expr("uuid()").alias("ID_MONITORING"),
        F.lit(nm_project).alias("NM_PROJECT"),
        F.lit(step).alias("STEP"),
        F.lit(qtd_files).cast("long").alias("QTD_FILES"),
        F.lit(qtd_rows).cast("long").alias("QTD_ROWS"),
        F.lit(dt_start).alias("DT_START"),
        F.lit(dt_end).alias("DT_END"),
    )
    assert base.schema == MONITORING
    return base


def audit_layer(
    spark: SparkSession,
    nm_project: str,
    step: str,
    path: str,
    fmt: str = "parquet",
    sink_path: str | None = None,
    **options,
) -> AuditResult:
    """Reference O4 (monitor.run): time the count job, produce the
    audit row, optionally append it to a parquet audit table."""
    dt_start = _now()
    files, rows = count_layer(spark, path, fmt=fmt, **options)
    dt_end = _now()
    row = monitoring_row(
        spark, nm_project, step, files, rows, dt_start, dt_end
    )
    if sink_path:
        row.write.mode("append").parquet(sink_path)
    return AuditResult(step, files, rows, dt_start, dt_end)
