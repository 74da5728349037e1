"""User-defined function surface (SURVEY.md §2.3 'UDF/UDAF/UDTF' row).

The engine's position: UDFs are the SLOW path — every hot-path operator in
this package is built from native expressions instead. This module exists
to (a) expose the full UDF surface a user of the engine may need for logic
Spark genuinely can't express, and (b) serve as cross-checks that the
native implementations are equivalent (tests assert UDF == native).

Patterns shown, fastest first:
- ``pandas_udf``: Arrow-batched, vectorized — 10-100x faster than
  row-at-a-time; the ONLY acceptable Python in a hot path.
- ``udtf``: Python user-defined TABLE function (Spark 4's lateral-join
  surface) — the modern analog of the reference's hand-rolled Mapper
  emitting multiple records per input
  (/root/reference/src/CrystalBallPair.java:38-64).
- plain ``udf``: row-at-a-time; the pattern of last resort, not used here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType


@pandas_udf(DoubleType())
def token_count_vectorized(text: pd.Series) -> pd.Series:
    """Vectorized whitespace token count (Arrow-batched).

    Cross-check twin of operators/text.py:token_count (native split+size);
    exists to exercise the pandas_udf surface, not to replace it.
    """
    return text.fillna("").str.split().str.len().astype("float64")


@udtf(returnType="item: string, neighbor: string")
class WindowedPairsUDTF:
    """Python UDTF emitting the reference's windowed (item, neighbor)
    pairs for one basket — the same contract as
    /root/reference/src/CrystalBallPair.java:42-63, used as a semantics
    cross-check for the native generator pipeline
    (operators/basket.py:basket_pairs). A NULL item never stops a window:
    SQL equality never holds for NULL, as in ``array_position``.

    Use ``F.lateral_join`` / ``SELECT ... FROM t, WindowedPairsUDTF(items)``
    style invocation. Slow path: one Python call per basket.
    """

    def eval(self, items: list):  # noqa: A002
        if not items:
            return
        n = len(items)
        for i in range(n - 1):  # last item never a current item
            p = items[i]
            for j in range(i + 1, n):
                if p is not None and items[j] == p:  # stop before re-occurrence
                    break
                yield p, items[j]

