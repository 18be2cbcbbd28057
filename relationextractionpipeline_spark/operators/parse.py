"""T2/T3 — tokenize + tag + dependency-parse as one Arrow-batched stage.

Analog of the reference's UDPipe stage (``udpipe_model.py:33-62``, driven at
``preprocessing.py:136-152``) with the second-pass UnstableParser
(``parsing.py:29-59``) folded in: one deterministic parser produces
``head``/``deprel`` directly (SURVEY.md §2.3 T2/T3).

Model-per-worker pattern: the reference loads its model once per forked
process (``preprocessing.py:128``); here the "model" is the pure-function
parser in ``functions/lexicon.py`` — imported once per Python worker at UDF
deserialization, zero per-batch setup.  A real ML parser would swap in via
``mapInPandas`` with a module-level lazy singleton; the stage boundary and
schema would not change.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from relationextractionpipeline_spark.functions import lexicon as lx
from relationextractionpipeline_spark.plans import schemas


@F.pandas_udf(schemas.PARSE_FULL)
def parse_full_udf(sent: pd.Series) -> pd.DataFrame:
    # StructType pandas UDFs return a DataFrame, one column per struct field
    parsed = sent.map(lx.parse_sentence_full)
    return pd.DataFrame(
        {
            "surface_tokens": parsed.map(lambda p: p["surface_tokens"]),
            "tokens": parsed.map(lambda p: p["tokens"]),
            "mwt": parsed.map(lambda p: p["mwt"]),
        }
    )


# Deterministic in fact; fenced so projection collapse can't substitute the
# parse expression into its several consumers (mentions, triples, sinks read
# different fields of ``_p``) — without the fence the parser ran once per
# consuming projection.  See operators/segment.py for the pattern rationale.
parse_full_udf = parse_full_udf.asNondeterministic()


def parse_sentences(sentences: DataFrame, text_col: str = "sent_text") -> DataFrame:
    """Adds ``tokens`` (syntax), ``surface_tokens`` and ``mwt`` columns — the
    reference's CoNLL-U intermediate files (S4/S5) eliminated in favor of
    typed columns, including the MWT range lines its post-processor
    re-inserts (P6, unstable_parser_post_proc.py:11-41): ``tokens`` is what
    the extraction rules read, ``surface_tokens`` is what text equality is
    measured over."""
    return (
        sentences.withColumn("_p", parse_full_udf(F.col(text_col)))
        .withColumn("tokens", F.col("_p.tokens"))
        .withColumn("surface_tokens", F.col("_p.surface_tokens"))
        .withColumn("mwt", F.col("_p.mwt"))
        .drop("_p")
    )
