"""End-to-end KG-construction plan: transcripts → triples/links/types.

Physical design (SURVEY.md §7):

* The turns→triples path is **entirely narrow** — segmentation, parsing,
  mention detection, linking and extraction are per-turn/per-sentence pure
  functions, so no shuffle touches the 10^12-turn fact table until the
  first aggregation.  Long conversations therefore cost nothing here (they
  are just more turn rows); conversation-level skew only exists where we
  group by conversation (assembly W2, grouped link scoring), and those paths
  bucket by ``pmod(hash(conv_id), P)``.
* Dimension tables (entity KB, FIGER map) are small: they ship to executors
  once — as Spark broadcast variables for the UDF path, or broadcast-hash
  joins for the native path (J3/J4) — mirroring the reference loading its
  type map once per process (``nel.py:246-248``) instead of per sentence.
* Catalyst pipelines the whole narrow chain into one stage; column pruning
  pushes the parquet scan down to exactly (conv_id, turn_idx, text).

Two extraction paths, chosen by KB size (``run_pipeline``):

* dict-broadcast (modes ``fused``/``staged``, the same code): ``triples``
  and ``links`` each come from one fused ``mapInPandas`` kernel
  (operators/fused.py) — one Arrow crossing per output, no UDF chain;
* ``staged-joinlink``: a chain of pandas UDFs whose linking is relational
  joins, for a KB too big to ship to workers as a Python dict.
"""

from __future__ import annotations

from typing import Dict, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from relationextractionpipeline_spark.operators import (
    assemble,
    cache,
    canonicalize,
    fused,
    link,
    mentions as mentions_op,
    parse,
    segment,
    triples as triples_op,
)
from relationextractionpipeline_spark.session import sized


def load_inputs(spark: SparkSession, paths: Dict[str, str]) -> Tuple[DataFrame, DataFrame, DataFrame]:
    transcripts = spark.read.parquet(paths["transcripts"])
    entity_kb = spark.read.parquet(paths["entity_kb"])
    figer_map = spark.read.parquet(paths["figer_map"])
    return transcripts, entity_kb, figer_map


def build_broadcasts(spark: SparkSession, entity_kb: DataFrame, figer_map: DataFrame):
    """Collect the dimension tables into broadcast dicts.

    These are dimension tables by construction (the reference's whole KB fits
    in one gzip JSON dict, ``nel.py:211-219``); a guard keeps an accidentally
    huge dim from being driver-collected — beyond it, use the
    broadcast-join linker (operators/link.py) instead.
    """
    # guard BEFORE collecting: a LIMIT probe costs one cheap job and keeps an
    # accidentally-huge dim table from OOMing the driver in toPandas()
    limit = 5_000_000
    if entity_kb.limit(limit + 1).count() > limit:
        raise ValueError(
            "entity_kb too large for dict broadcast; use link_mentions_broadcast_join"
        )
    kb_pdf: pd.DataFrame = entity_kb.toPandas()
    figer_pdf: pd.DataFrame = figer_map.toPandas()
    kb: Dict[str, Tuple[str, float]] = {}
    for surface, url, prior in kb_pdf[["surface", "url", "prior"]].itertuples(index=False):
        cur = kb.get(surface)
        # (prior desc, url asc) — the shared linker tie convention; without
        # the url clause the winner depends on toPandas row order
        if cur is None or prior > cur[1] or (prior == cur[1] and url < cur[0]):
            kb[surface] = (url, float(prior))
    kb_index = {tuple(s.split(" ")): s for s in kb_pdf["surface"]}
    figer = dict(zip(figer_pdf["url"], figer_pdf["figer_type"]))
    sc = spark.sparkContext
    return sc.broadcast(kb), sc.broadcast(kb_index), sc.broadcast(figer)


def build_candidates_broadcast(spark: SparkSession, entity_kb: DataFrame):
    """Broadcast the FULL candidate lists per surface — what a context-aware
    disambiguator needs (the max-prior dict from build_broadcasts keeps only
    the winner).  surface -> [(url, prior)] sorted (prior desc, url asc), so
    index 0 is the deterministic max-prior candidate.  Same LIMIT-probe guard
    as build_broadcasts."""
    limit = 5_000_000
    if entity_kb.limit(limit + 1).count() > limit:
        raise ValueError(
            "entity_kb too large for candidate-list broadcast; "
            "use link_mentions_broadcast_join"
        )
    pdf: pd.DataFrame = entity_kb.toPandas()
    cands: Dict[str, list] = {}
    for surface, url, prior in pdf[["surface", "url", "prior"]].itertuples(
        index=False
    ):
        cands.setdefault(surface, []).append((url, float(prior)))
    for surface in cands:
        cands[surface].sort(key=lambda c: (-c[1], c[0]))
    return spark.sparkContext.broadcast(cands)


def build_gazetteer_broadcast(spark: SparkSession, entity_kb: DataFrame):
    """Broadcast ONLY the surface→token-tuple gazetteer (mention detection).

    For the joinlink path: the full candidate table (surface, url, prior)
    may be join-sized, but the distinct-surface index is the small side —
    this collects just that column."""
    surfaces = [
        r["surface"] for r in entity_kb.select("surface").distinct().collect()
    ]
    kb_index = {tuple(s.split(" ")): s for s in surfaces}
    return spark.sparkContext.broadcast(kb_index)


def parse_turns(transcripts: DataFrame) -> DataFrame:
    """Turns → parsed sentence rows (``tokens``, ``surface_tokens``,
    ``mwt``): the input of the reference-format sinks (operators/sinks.py)
    and of the joinlink path.  Lazy — nothing runs unless consumed."""
    return parse.parse_sentences(segment.segment_sentences(transcripts))


def materialize_graph(run: Dict[str, DataFrame]) -> Dict[str, DataFrame]:
    """Canonicalization tail (north_star): cluster entity references and
    near-duplicate predicates (minhash-LSH + connected components), rewrite
    triples onto canonical entity/predicate ids.  Separate from run_pipeline
    because CC is iterative (runs Spark actions); callers opt in."""
    # triples feed entity canonicalization, predicate canonicalization and
    # the edge rewrite — checkpoint once so the extraction kernel doesn't
    # re-run per consumer (in a production run this is the materialized
    # triples stage from plans/manifests.py instead)
    triples = cache.checkpoint(run["triples"])
    entities, edges = canonicalize.canonicalize(triples, run["links"])
    pred_map = canonicalize.canonicalize_predicates(triples)
    edges = edges.join(F.broadcast(pred_map), "pred", "left")
    return {"entities": entities, "edges": edges, "predicates": pred_map}


def run_staged_joinlink(
    transcripts: DataFrame,
    kb_index_bc,
    entity_kb: DataFrame,
    figer_map: DataFrame,
    nel_mode: str = "merged",
) -> Dict[str, DataFrame]:
    """Staged path for a KB too large for a Python-dict broadcast: linking
    runs as **relational joins** (J3/J4 — broadcast-hash while the dim fits,
    degrading to a shuffled hash join beyond that by dropping the hint)
    instead of a dict lookup inside the UDF.

    Cost shape: explode mentions → join → regroup; the regroup is one
    shuffle on the sentence key (collect_list ordered by mention_id), which
    is exactly the price of a KB that no longer ships to workers whole.  The
    mention-DETECTION gazetteer (kb_index) still broadcasts — at real scale
    that side is the surface→candidate index, orders of magnitude smaller
    than the full candidate table.  ``triples`` and ``links`` equal the
    fused path's (equality-tested)."""
    from relationextractionpipeline_spark.operators import cache

    # parsed feeds BOTH sides of the regroup join (the mention explode branch
    # and the sentence left side) — persist so the segment+parse Arrow stages
    # run once, not once per branch.  In a production run this is the
    # materialized parse-stage table from plans/manifests.py instead.
    # Tracked persist: the caller owns the cache scope (operators/cache.py) —
    # release_all() or clearCache() once the run's outputs are materialized.
    parsed = cache.track(parse_turns(transcripts))
    with_mentions = mentions_op.detect_mentions(parsed, kb_index_bc, nel_mode)
    rows = mentions_op.explode_mentions(with_mentions)
    linked_rows = link.link_mentions_broadcast_join(rows, entity_kb, figer_map)
    keys = ["conv_id", "turn_idx", "sent_idx"]
    m_struct = F.struct(
        "mention_id", "start_tok", "end_tok", "surface", "tag", "kind",
        "url", "figer",
    )
    regrouped = (
        linked_rows.groupBy(*keys)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(m_struct)),
                lambda m: m.dropFields("mention_id"),
            ).alias("mentions")
        )
    )
    # left join: sentences with zero mentions keep an empty array (P7 rows
    # still flow to the sinks)
    linked = parsed.drop("mentions").join(regrouped, keys, "left").withColumn(
        "mentions",
        F.coalesce(F.col("mentions"), F.array().cast(regrouped.schema["mentions"].dataType)),
    )
    triples = triples_op.extract_triples(linked)
    return {
        "parsed": parsed,
        "with_mentions": with_mentions,
        "linked": linked,
        "links": mentions_op.explode_mentions(linked),
        "triples": triples,
        "types": triples_op.distinct_types(triples),
    }


def run_fused(
    transcripts: DataFrame,
    kb_bc,
    kb_index_bc,
    figer_bc,
    cache_stats: Optional[dict] = None,
    nel_mode: str = "merged",
) -> DataFrame:
    """Hot path: one Arrow crossing turns→triples."""
    return fused.extract_triples_fused(
        transcripts, kb_bc, kb_index_bc, figer_bc, cache_stats=cache_stats,
        nel_mode=nel_mode,
    )


# Above this many candidate rows the KB stops shipping to workers as a
# Python dict broadcast and linking becomes relational joins (staged-joinlink).
# Well under build_broadcasts' hard 5M guard: the dict costs ~100B+/entry in
# every Python worker, so 2M rows ≈ a few hundred MB per worker — the point
# where the one-extra-shuffle join path is the cheaper trade.
AUTO_JOINLINK_KB_ROWS = 2_000_000


def run_pipeline(
    spark: SparkSession,
    paths: Dict[str, str],
    mode: str = "fused",
    input_partitions: Optional[int] = None,
    nel_mode: str = "merged",
) -> Dict[str, DataFrame]:
    """Load → (optionally re-balance) → extract.  Returns named DataFrames.

    ``input_partitions`` re-splits the scan output before the Python stage —
    the knob that replaces the reference's batch_size/round-robin scheduler
    (``preprocessing.py:46``, ``helper_functions.py:94-107``).  Rebalancing is
    round-robin (no key): the extract path is embarrassingly parallel over
    turns, so no co-location is needed and no key skew is possible.

    ``mode='auto'`` probes the KB size (one LIMIT job) and selects the
    linking strategy: dict-broadcast fused path while the KB fits worker
    memory, relational ``staged-joinlink`` beyond ``AUTO_JOINLINK_KB_ROWS``
    — the selection the two equality-tested paths existed for.

    Every mode returns ``triples``, ``links``, ``types`` and the lazy
    ``parsed`` sentence table (sink input), plus the loaded inputs and
    ``assembled``.  ``nel_mode`` ('merged' | 'ner_only') selects the
    mention detector on every path.
    """
    transcripts, entity_kb, figer_map = load_inputs(spark, paths)
    if input_partitions:
        turns = transcripts = transcripts.repartition(input_partitions)
    else:
        # the Python crossings read the scan sized to its bytes (every
        # Python task has a fixed cost); the JVM-only assembly keeps the
        # plain scan and its one hash Exchange
        turns = sized(transcripts, paths["transcripts"])
    if mode == "auto":
        big_kb = (
            entity_kb.limit(AUTO_JOINLINK_KB_ROWS + 1).count()
            > AUTO_JOINLINK_KB_ROWS
        )
        mode = "staged-joinlink" if big_kb else "fused"
    if mode == "staged-joinlink":
        # big-KB path: never driver-collects the candidate table
        kbi_bc = build_gazetteer_broadcast(spark, entity_kb)
        out = run_staged_joinlink(turns, kbi_bc, entity_kb, figer_map, nel_mode)
        out["transcripts"] = transcripts
        out["entity_kb"] = entity_kb
        out["figer_map"] = figer_map
        out["assembled"] = assemble.assemble_conversations(transcripts)
        return out
    # "fused" and "staged" (the older spelling, still accepted) are one path
    kb_bc, kb_index_bc, figer_bc = build_broadcasts(spark, entity_kb, figer_map)
    triples = run_fused(turns, kb_bc, kb_index_bc, figer_bc, nel_mode=nel_mode)
    out = {
        "triples": triples,
        "links": fused.links_fused(turns, kb_bc, kb_index_bc, figer_bc, nel_mode),
        "types": triples_op.distinct_types(triples),
        "parsed": parse_turns(turns),
    }
    out["transcripts"] = transcripts
    out["entity_kb"] = entity_kb
    out["figer_map"] = figer_map
    out["assembled"] = assemble.assemble_conversations(transcripts)
    return out
