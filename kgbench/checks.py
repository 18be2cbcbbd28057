"""Output checks shared by every workload: triple P/R against the cached
oracle, as multisets over the triple key."""

from __future__ import annotations

from collections import Counter
from typing import Tuple

import pandas as pd

from kgbench.corpus import TRIPLE_KEY

PR_GATE = 0.95


def triple_counter(df: pd.DataFrame) -> Counter:
    return Counter(df[TRIPLE_KEY].itertuples(index=False, name=None))


def precision_recall(got: pd.DataFrame, ref: Counter) -> Tuple[float, float]:
    g = triple_counter(got)
    tp = sum((g & ref).values())
    n_got, n_ref = sum(g.values()), sum(ref.values())
    return (tp / n_got if n_got else 1.0, tp / n_ref if n_ref else 1.0)


def read_parquet_dirs(*dirs: str) -> pd.DataFrame:
    """Driver-side read of committed parquet output (no Spark job)."""
    return pd.concat([pd.read_parquet(d) for d in dirs], ignore_index=True)
