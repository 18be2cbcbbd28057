"""Fused extractors: each is ONE ``mapInPandas`` crossing from turns.

Segment → parse → detect → link → extract are all narrow per-turn
functions; run as a chain of pandas UDFs, every link of the chain is a
separate Arrow (de)serialization of the intermediate ``tokens`` /
``mentions`` arrays, and that transfer dominates.  So the engine's outputs
come straight from turns, with the per-turn orchestration in
``functions/turnproc`` (the same module the oracle calls):

* ``extract_triples_fused`` — turns → triple rows;
* ``links_fused`` — turns → linked mention rows (the ``links`` table);
* ``mention_rows_fused`` — turns → unlinked mention rows, for the grouped
  link scorers (operators/link.py).

The two mention kernels share one per-turn loop.  The iterator API fetches
the broadcast dicts once per task.  Equality with the sequential oracle is
asserted by tests/test_pipeline.py.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.broadcast import Broadcast

from relationextractionpipeline_spark.functions import rules, turnproc

# rel/rel_human are NOT ferried through Arrow: they render natively from
# these fields after the crossing (operators/triples.with_rel_strings)
TRIPLE_COLS = [
    "conv_id", "turn_idx", "sent_idx", "subj", "pred", "obj", "subj_type",
    "obj_type", "subj_kind", "obj_kind", "neg", "passive", "pred_tok",
    "rel_idx",
]

OUT_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, subj string, pred string, "
    "obj string, subj_type string, obj_type string, subj_kind string, "
    "obj_kind string, neg boolean, passive boolean, pred_tok int, rel_idx int"
)


def extract_triples_fused(
    transcripts: DataFrame,
    kb_bc: Broadcast,
    kb_index_bc: Broadcast,
    figer_bc: Broadcast,
    cache_stats: dict | None = None,
    nel_mode: str = "merged",
) -> DataFrame:
    """``cache_stats`` (optional): dict of LongAccumulator under keys
    'lookups'/'hits'/'evictions' — the sentence-memo counters
    (functions/turnproc) surface per job, so cache behavior at scale is
    observable rather than inferred (see tools/kg_job.py)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kb = kb_bc.value
        kb_index = kb_index_bc.value
        figer = figer_bc.value
        base = turnproc.cache_counters() if cache_stats else (0, 0, 0)
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                for trip in turnproc.extract_turn_triples(
                    text, kb, kb_index, figer, render=False, nel_mode=nel_mode
                ):
                    rows.append(
                        (
                            conv_id, int(turn_idx), trip["sent_idx"],
                            trip["subj"], trip["pred"], trip["obj"],
                            trip["subj_type"], trip["obj_type"],
                            trip["subj_kind"], trip["obj_kind"],
                            trip["neg"], trip["passive"], trip["pred_tok"],
                            trip["rel_idx"],
                        )
                    )
            yield pd.DataFrame(rows, columns=TRIPLE_COLS)
        if cache_stats:
            now = turnproc.cache_counters()
            cache_stats["lookups"].add(now[0] - base[0])
            cache_stats["hits"].add(now[1] - base[1])
            cache_stats["evictions"].add(now[2] - base[2])

    from relationextractionpipeline_spark.operators import triples as triples_op

    return triples_op.with_rel_strings(
        transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
            run, schema=OUT_SCHEMA
        )
    )


MENTION_ROW_COLS = [
    "conv_id", "turn_idx", "sent_idx", "mention_id", "start_tok", "end_tok",
    "surface", "tag", "kind",
]

MENTION_ROW_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, mention_id int, "
    "start_tok int, end_tok int, surface string, tag string, kind string"
)


def _mention_rows(
    transcripts: DataFrame,
    kb_index_bc: Broadcast,
    nel_mode: str,
    link_bcs: Optional[Tuple[Broadcast, Broadcast]] = None,
) -> DataFrame:
    """The per-turn loop both mention kernels share: segment, parse and
    detect each sentence, emit one row per mention; with ``link_bcs``
    (kb, figer) each row also carries ``rules.link_mention``'s
    (url, figer)."""
    cols, schema = MENTION_ROW_COLS, MENTION_ROW_SCHEMA
    if link_bcs is not None:
        cols = cols + ["url", "figer"]
        schema += ", url string, figer string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kb_index = kb_index_bc.value
        if link_bcs is not None:
            kb, figer = link_bcs[0].value, link_bcs[1].value
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                ti = int(turn_idx)
                for sent_idx, (_li, sent) in enumerate(
                    rules.segment_text_with_lines(text or "")
                ):
                    _toks, ments = turnproc.sentence_mentions(
                        sent, kb_index, nel_mode
                    )
                    for mid, m in enumerate(ments):
                        row = (
                            conv_id, ti, sent_idx, mid,
                            int(m["start_tok"]), int(m["end_tok"]),
                            m["surface"], m["tag"], m["kind"],
                        )
                        if link_bcs is not None:
                            row += rules.link_mention(
                                str(m["surface"]), kb, figer
                            )
                        rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        run, schema=schema
    )


def mention_rows_fused(
    transcripts: DataFrame, kb_index_bc: Broadcast, nel_mode: str = "merged"
) -> DataFrame:
    """Turns → unlinked mention rows (segment + parse + mention detection)
    in one crossing: the input of the grouped link scorers, which consume
    only mention rows, so nothing else needs to cross."""
    return _mention_rows(transcripts, kb_index_bc, nel_mode)


def links_fused(
    transcripts: DataFrame,
    kb_bc: Broadcast,
    kb_index_bc: Broadcast,
    figer_bc: Broadcast,
    nel_mode: str = "merged",
) -> DataFrame:
    """Turns → the ``links`` table in one crossing: every mention row
    linked by the broadcast-dict linker (``rules.link_mention``, max-prior
    candidate).  Columns: ``conv_id, turn_idx, sent_idx, mention_id,
    start_tok, end_tok, surface, tag, kind, url, figer``."""
    return _mention_rows(transcripts, kb_index_bc, nel_mode, (kb_bc, figer_bc))
