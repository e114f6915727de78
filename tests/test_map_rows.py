"""The malformed-row rule of ``protocols.rows.map_rows``."""

from __future__ import annotations

from pyspark.sql.types import LongType, StringType, StructField, StructType

from ingestor_etl_spark.protocols.rows import map_rows

SCHEMA = StructType([StructField("k", LongType()), StructField("part", StringType())])


def _run(spark, fn):
    df = spark.createDataFrame([(1,), (2,), (3,)], "k long").coalesce(1)
    out = map_rows(df, ["k"], fn, SCHEMA)
    assert out.schema == SCHEMA
    return sorted(tuple(r) for r in out.collect())


def test_row_that_raises_drops_only_itself(spark):
    def fn(k):
        if k == 2:
            raise ValueError("malformed")
        yield k, "whole"

    assert _run(spark, fn) == [(1, "whole"), (3, "whole")]


def test_rows_yielded_before_a_raise_are_kept(spark):
    def fn(k):
        yield k, "first"
        if k == 2:
            raise ValueError("malformed tail")
        yield k, "second"

    assert _run(spark, fn) == [
        (1, "first"), (1, "second"), (2, "first"), (3, "first"), (3, "second")
    ]
