"""Bounded driver finish: connected components, triangle counts and the
grid runners shrink their data distributively, then — once an EXACT
size the caller already holds is under a cap — solve the remainder with
a numpy kernel on the driver, where the remaining distributed rounds
would be pure job latency.  The size comes from a job the caller runs
anyway (convergence checksum, grid-stats row, pin-materializing count),
so the finish adds no Spark job; the cap bounds the collected bytes.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def local_finish(df: DataFrame, cols: Sequence[str], size: int, cap: int,
                 kernel: Callable[[pd.DataFrame], pd.DataFrame | None],
                 schema: StructType | str) -> DataFrame | None:
    """Finish ``df`` on the driver when ``size`` (its exact row count,
    known to the caller) is at most ``cap``; otherwise return None and
    leave the caller on its distributed branch.

    ``df.select(*cols)`` is collected by name and handed to ``kernel``
    (pandas in, pandas out with ``schema``'s columns).  The kernel may
    return None to decline after looking at the data.  An empty input
    skips the kernel, and an empty result re-parallelizes as an empty
    relation under ``schema``."""
    if size > cap:
        return None
    pdf = df.select(*cols).toPandas()
    out = kernel(pdf) if len(pdf) else pdf
    if out is None:
        return None
    return df.sparkSession.createDataFrame(out if len(out) else [], schema)
