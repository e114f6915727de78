"""The per-row decode loop shared by every Arrow-batched decoder.

A decoder supplies a row function: it takes one input row's values
(in the order of the selected columns) and yields zero or more
output tuples in the order of the output schema. ``map_rows`` runs it
over every Arrow batch with ``mapInPandas`` and holds the one
``except`` that wraps a whole row.

Malformed-row rule (§2.8): a row whose function raises contributes
nothing more — the tuples it yielded before the raise are kept, its
neighbours are unaffected, and nothing is counted. Decoders therefore
drop malformed rows silently; turning them into ledger dispositions
is ROADMAP item 2.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame,
    cols: list[str | Column],
    fn: Callable[..., Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """``fn(*row)`` over ``df.select(*cols)``, one output row per
    yielded tuple, typed by ``schema``."""
    src = df.select(*cols)
    in_cols = src.columns
    out_cols = [f.name for f in schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for row in zip(*(pdf[c] for c in in_cols)):
                try:
                    rows.extend(fn(*row))
                except Exception:
                    continue  # malformed row: keep what it yielded, drop the rest
            yield pd.DataFrame(rows, columns=out_cols)

    return src.mapInPandas(gen, schema)
