"""Fixed StructType schemas per pipeline stage (SURVEY.md §1.3).

The reference aligns stages positionally (file name + line/sentence index,
``nel.py:244-251``, ``binary_relation.py:146-148``); the new engine replaces
positional identity with explicit key columns ``(conv_id, turn_idx, sent_idx)``
and fixed schemas — this is what makes every stage joinable and shuffleable.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# T1 output element: (line_idx, sent) — line_idx is the lineage key replacing
# the reference's `.lines` sidecar (preprocessing.py:85-98)
SEGMENT_ELEM = T.StructType(
    [
        T.StructField("line_idx", T.IntegerType(), False),
        T.StructField("sent", T.StringType(), False),
    ]
)
SEGMENTS = T.ArrayType(SEGMENT_ELEM)

# T2 output: the CoNLL-U fields the reference consumes (helper_functions.py:11-30)
TOKEN = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("form", T.StringType(), False),
        T.StructField("lemma", T.StringType(), False),
        T.StructField("upos", T.StringType(), False),
        T.StructField("xpos", T.StringType(), False),
        T.StructField("head", T.IntegerType(), False),
        T.StructField("deprel", T.StringType(), False),
    ]
)
TOKENS = T.ArrayType(TOKEN)

# P6 — full parse output: syntax tokens + surface tokens + MWT ranges (the
# CoNLL-U range lines unstable_parser_post_proc.py:11-41 re-inserts, typed)
SURFACE_TOKEN = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("form", T.StringType(), False),
    ]
)
MWT_RANGE = T.StructType(
    [
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("form", T.StringType(), False),
    ]
)
PARSE_FULL = T.StructType(
    [
        T.StructField("surface_tokens", T.ArrayType(SURFACE_TOKEN), False),
        T.StructField("tokens", TOKENS, False),
        T.StructField("mwt", T.ArrayType(MWT_RANGE), False),
    ]
)

# T4 output: mention spans with 1-based token offsets (nel.py:91-126, :308)
MENTION = T.StructType(
    [
        T.StructField("start_tok", T.IntegerType(), False),
        T.StructField("end_tok", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)
MENTIONS = T.ArrayType(MENTION)

# R1-R9 output triple (binary_relation.py:232 tuple, made columnar).  The
# serialized rel/rel_human strings are NOT part of the UDF output: they are
# pure functions of these fields and render as native Column expressions
# (operators/triples.rel_string_cols) — JVM codegen instead of Python string
# formatting, pruned by Catalyst when unread.  rel_idx is the
# within-sentence emission index (the reference's pair-product order) for
# byte-parity sinks.
TRIPLE = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("subj_type", T.StringType(), False),
        T.StructField("obj_type", T.StringType(), False),
        T.StructField("subj_kind", T.StringType(), False),
        T.StructField("obj_kind", T.StringType(), False),
        T.StructField("neg", T.BooleanType(), False),
        T.StructField("passive", T.BooleanType(), False),
        T.StructField("pred_tok", T.IntegerType(), False),
        T.StructField("rel_idx", T.IntegerType(), False),
    ]
)
TRIPLES = T.ArrayType(TRIPLE)
