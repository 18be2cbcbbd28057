"""T1 — sentence segmentation as a batched pandas UDF + posexplode.

Analog of the reference's NLTK-Punkt stage (``preprocessing.py:101-112``)
including the line split (P1, ``:59``) and empty-line filter (P2, ``:110``).
The UDF is Arrow-batched series→series (no per-row Python at the Spark
boundary); ``posexplode`` assigns ``sent_idx`` — the positional lineage the
reference tracked via the ``.lines`` sidecar file (``preprocessing.py:85-98``)
becomes real key columns ``(conv_id, turn_idx, line_idx, sent_idx)``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from relationextractionpipeline_spark.functions import rules
from relationextractionpipeline_spark.plans import schemas


@F.pandas_udf(schemas.SEGMENTS)
def segment_udf(text: pd.Series) -> pd.Series:
    return text.map(
        lambda t: [
            {"line_idx": li, "sent": s}
            for li, s in rules.segment_text_with_lines(t if t is not None else "")
        ]
    )


# The UDF IS deterministic (pure function of text); the marker is an
# optimizer fence: InferFiltersFromGenerate otherwise clones the expression
# into an inferred `size(...) > 0` filter below the posexplode, and predicate
# pushdown substitutes it again through the projection — a UDF-chain plan
# then pays the segmentation Arrow stage TWICE per turn.  The inferred filter buys
# nothing (the explode already drops empty arrays), so fencing it off is a
# pure win; plan-asserted in tests/test_plans.py.
segment_udf = segment_udf.asNondeterministic()


def segment_sentences(transcripts: DataFrame) -> DataFrame:
    """turns → one row per sentence: (conv_id, turn_idx, sent_idx, line_idx,
    sent_text).  Empty turns yield zero rows (P2/P7 pushdown happens here —
    later stages never see entity-free empty text)."""
    return (
        transcripts.withColumn("segs", segment_udf("text"))
        .select(
            "conv_id",
            "turn_idx",
            F.posexplode("segs").alias("sent_idx", "seg"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "sent_idx",
            F.col("seg.line_idx").alias("line_idx"),
            F.col("seg.sent").alias("sent_text"),
        )
    )
