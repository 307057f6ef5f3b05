"""Output frames for the per-row Python kernels run inside ``mapInPandas``.

Every column is ``dtype=object``: that keeps empty batches and map / array /
struct columns Arrow-convertible, and lets nullable ints travel as Python
ints or ``None`` (Arrow casts them to the declared Spark type)."""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Mapping

import pandas as pd


def records_frame(records: list[Mapping], columns: list[str]) -> pd.DataFrame:
    """Records (one mapping per output row) → a frame of ``columns``."""
    return pd.DataFrame({c: pd.Series([r[c] for r in records], dtype=object)
                         for c in columns})


def row_frames(batches: Iterator[pd.DataFrame], columns: list[str],
               per_row: Callable[..., Iterable[Mapping]]) -> Iterator[pd.DataFrame]:
    """One ``records_frame`` per batch: ``per_row(*values)`` runs once per
    input row, with the row's values in the batch's column order, and
    yields zero or more records."""
    for pdf in batches:
        yield records_frame([rec for row in pdf.itertuples(index=False, name=None)
                             for rec in per_row(*row)], columns)
