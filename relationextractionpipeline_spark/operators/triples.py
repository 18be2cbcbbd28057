"""J6 + R1-R9 — binary relation extraction.

The reference's flagship stage (``binary_relation.py:207-267``): within-row
ordered pair product over mentions (J6 — never a table-level crossJoin),
com-com / self / empty-predicate filters (P8-P10), dependency tree-walk
rules R1-R9, passive swap (R8), canonical strings (P11-P14).  The whole rule
set lives in ``functions/rules.py`` — shared verbatim with the oracle — and
runs as one Arrow-batched pandas UDF over ``(tokens, mentions)``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from relationextractionpipeline_spark.functions import rules
from relationextractionpipeline_spark.plans import schemas


@F.pandas_udf(schemas.TRIPLES)
def triples_udf(tokens: pd.Series, mentions: pd.Series) -> pd.Series:
    return pd.Series(
        [
            # Arrow structs arrive dict-shaped; rel/rel_human render natively
            # downstream (with_rel_strings), not in Python
            rules.extract_relations(t, ms, render=False)
            for t, ms in zip(tokens, mentions)
        ]
    )


# Deterministic in fact; fenced so InferFiltersFromGenerate can't clone the
# whole segment→parse→mentions→triples UDF chain into an inferred filter
# below the explode (observed: a UDF-chain plan evaluated every Arrow stage
# twice).
# See operators/segment.py for the full rationale.
triples_udf = triples_udf.asNondeterministic()


# canonical triples column order — the public schema every extract path emits
TRIPLE_ORDER = [
    "conv_id", "turn_idx", "sent_idx", "subj", "pred", "obj", "subj_type",
    "obj_type", "subj_kind", "obj_kind", "neg", "passive", "pred_tok", "rel",
    "rel_human", "rel_idx",
]


def rel_string_cols():
    """(rel, rel_human) as NATIVE Column expressions over the emitted triple
    fields — byte-identical to the Python renderers
    (functions/rules.render_rel_string / render_human_string, reference
    binary_relation.py:125-128 and :270-289), but computed by JVM
    whole-stage codegen instead of Python string formatting inside the
    extraction UDF, and pruned away entirely by Catalyst for consumers that
    never read them (canonicalization reads only subj/pred/obj).  The
    sequential oracle still renders in Python, so the kg_triples hash gate
    compares the two renderer implementations byte for byte."""
    pred = F.col("pred")
    # P13 quirk: the arg-1 name drops the '.'-suffixes, arg-2 keeps them
    pred_head = F.element_at(F.split(pred, r"\."), 1)
    negs = F.when(F.col("neg"), F.lit("NEG__")).otherwise(F.lit(""))
    rel = F.concat(
        F.lit("("), negs, F.lit("("), pred_head, F.lit(".1,"), pred,
        F.lit(".2)::"), F.col("subj"), F.lit("::"), F.col("obj"),
        F.lit("::"), F.col("subj_type"), F.lit("::"), F.col("obj_type"),
        F.lit("::"), F.col("subj_kind"), F.col("obj_kind"), F.lit("::0::"),
        F.col("pred_tok").cast("string"), F.lit(")"),
    )
    rel_human = F.concat(
        negs, F.lit("("), pred, F.lit(".1,"), pred, F.lit(".2)"),
        F.col("subj_type"), F.col("obj_type"), F.lit("::"), F.col("subj"),
        F.lit("::"), F.col("obj"), F.lit("|||(passive: "),
        F.when(F.col("passive"), F.lit("True")).otherwise(F.lit("False")),
        F.lit(")"),
    )
    return rel, rel_human


def with_rel_strings(df: DataFrame) -> DataFrame:
    """Attach the serialized relation strings in canonical column order."""
    rel, rel_human = rel_string_cols()
    return (
        df.withColumn("rel", rel)
        .withColumn("rel_human", rel_human)
        .select(*TRIPLE_ORDER)
    )


def extract_triples(linked: DataFrame) -> DataFrame:
    """sentence rows (tokens + linked mentions) → one row per triple."""
    return with_rel_strings(
        linked.withColumn("triples", triples_udf("tokens", "mentions"))
        .select(
            "conv_id",
            "turn_idx",
            "sent_idx",
            F.explode("triples").alias("t"),
        )
        .select("conv_id", "turn_idx", "sent_idx", "t.*")
    )


def distinct_types(triples: DataFrame) -> DataFrame:
    """S14 — distinct FIGER types seen (binary_relation.py:72-82): a
    partial+final hash aggregate, replacing the reference's driver-side
    dict-as-set accumulated across every batch file."""
    return (
        triples.select(
            F.explode(F.array("subj_type", "obj_type")).alias("figer_type")
        )
        .distinct()
    )
