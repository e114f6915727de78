"""Ingestion ledger (SURVEY §2.1 S10/S11, §2.5 A1).

The reference tracks per-file progress in an ``ingestion_queue``
table in a second database: filename, state, pid/owner, processed /
not_processed counts, created/processing/processed timestamps
(models.py:250-263), updated after each load
(diameter.py:625-629, http_ocs_ingestor.py:876-900).

Engine version: the same columns as a parquet (or JDBC) ledger
table, written append-only — each state transition is a new row and
the current state is the latest row per file (last-writer-wins by
``updated_datetime``), which is idempotent under retries and needs
no UPDATE support from the store. A1's processed/not_processed
counters are computed from the decode output's ``error`` column.
Only the frames source writes that column (one error row per
malformed container); the decoders drop malformed rows in
``protocols.rows.map_rows`` without a trace, so ``not_processed`` is
0 for decoded output until ROADMAP item 2 turns those drops into
counted dispositions."""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

LEDGER_COLUMNS = (
    "filename", "state", "pid", "owner", "processed", "not_processed",
    "created_datetime", "processing_datetime", "processed_datetime",
    "updated_datetime", "ingestion_instance_id",
)

STATE_PENDING = "pending"
STATE_PROCESSING = "processing"
STATE_DONE = "processed"
STATE_ERROR = "error"

# Reading a ledger that does not exist yet: no directory, or a
# directory with no parquet files in it.
_NO_LEDGER_YET = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def file_counters(decoded: DataFrame, error_col: str = "error") -> DataFrame:
    """A1: per-file processed / not_processed counts from the
    error-column convention (diameter.py:426,456-457,480-486)."""
    err = F.col(error_col).isNotNull() if error_col in decoded.columns else F.lit(False)
    return decoded.groupBy("file").agg(
        F.sum(F.when(~err, 1).otherwise(0)).alias("processed"),
        F.sum(F.when(err, 1).otherwise(0)).alias("not_processed"),
    )


def ledger_rows(
    counters: DataFrame,
    state: str = STATE_DONE,
    owner: str = "ingestor-etl-spark",
    instance_id: int = 0,
) -> DataFrame:
    """Counters → ledger-schema rows (one state transition each)."""
    now = F.current_timestamp()
    return counters.select(
        F.col("file").alias("filename"),
        F.lit(state).alias("state"),
        F.lit(None).cast("int").alias("pid"),
        F.lit(owner).alias("owner"),
        F.col("processed").cast("long").alias("processed"),
        F.col("not_processed").cast("long").alias("not_processed"),
        now.alias("created_datetime"),
        now.alias("processing_datetime"),
        (now if state == STATE_DONE else F.lit(None).cast("timestamp")).alias(
            "processed_datetime"
        ),
        now.alias("updated_datetime"),
        F.lit(instance_id).alias("ingestion_instance_id"),
    )


def append_ledger(rows: DataFrame, path: str) -> None:
    rows.write.mode("append").parquet(path)


def current_ledger_state(spark: SparkSession, path: str) -> DataFrame:
    """Latest row per file — the queue table's current view."""
    w = Window.partitionBy("filename").orderBy(F.desc("updated_datetime"))
    return (
        spark.read.parquet(path)
        .withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )


def pending_files(spark: SparkSession, path: str, available: list[str]) -> list[str]:
    """Work-queue semantics: which of ``available`` capture files
    have no successful ledger entry yet (the reference's fleet
    coordination via queue state, models.py:255-258). A ledger
    that does not exist yet means every file is pending; any other
    read failure (e.g. a corrupt part file) raises, since treating it
    as empty would re-ingest and duplicate every file."""
    try:
        state = current_ledger_state(spark, path)
    except AnalysisException as exc:
        if exc.getCondition() not in _NO_LEDGER_YET:
            raise
        return list(available)
    done = {
        r.filename
        for r in state.where(F.col("state") == STATE_DONE).select("filename").collect()
    }
    return [f for f in available if f not in done]
