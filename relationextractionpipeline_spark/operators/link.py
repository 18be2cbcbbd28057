"""T5/J3 — entity linking: candidate generation + link scoring + FIGER typing.

The reference POSTs every entity-bearing sentence to a live AGDISTIS server
(``nel.py:260-261``, ``agdistis.py:36-53``) and then dict-looks-up the
DBPedia→FIGER map (``nel.py:302-306``).  Here the linker is deterministic and
the NEL record schema — not the service — is the stable interface (exactly
the reference's own design: the Spotlight shim at ``ner_nel.py:235-255``
re-shapes an alternative service to the same record).

The default linker is the broadcast-dict lookup ``rules.link_mention``
inside the fused kernels (operators/fused.py): zero shuffle, no extra
Arrow crossing.  This module holds the two interchangeable alternatives,
equality-tested against it:

1. ``score_links_grouped`` — ``applyInPandas`` grouped by ``conv_id``
   (BASELINE.json north_star's "batched link-scoring applyInPandas stage"):
   the shape a context-aware scorer needs (all of a conversation's mentions
   in one pandas frame), with group size bounded by conversation length —
   never a fixed fraction of the table, which would OOM executors at scale.
2. ``link_mentions_broadcast_join`` — pure-native: broadcast-hash equi-joins
   against the ``entity_kb`` / ``figer_map`` dimension tables (J3/J4).  The
   scale path when the KB is too big for a Python dict but small enough to
   broadcast; beyond that the same code degrades gracefully to a shuffled
   hash join by dropping the hint.
"""

from __future__ import annotations

from typing import Dict

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.broadcast import Broadcast

from relationextractionpipeline_spark.functions import rules

NOT_IN_WIKI_PREFIX = rules.NOT_IN_WIKI_PREFIX

# context-scorer boost: added to a candidate's prior when its URL is the
# max-prior link of ANOTHER surface in the same conversation (coreference
# evidence: "Benjamin Franklin … Franklin" ⇒ the alias follows the full
# name).  0.5 dominates any prior gap (priors are in [0,1], same-surface
# candidates differ by <0.5) while never outweighing a second boost.
CTX_BOOST = 0.5

# type-coherence boost (the second, weaker context signal): added when the
# candidate's FIGER type matches the type of ANOTHER surface's max-prior
# link in the same conversation — entities in one conversation tend to share
# types ("…Curie…Turing…" ⇒ prefer /person readings of an ambiguous alias).
# Deliberately < CTX_BOOST: direct URL coreference always outranks mere
# type agreement, and 0.25 only flips candidates whose prior gap is smaller
# than the type evidence.
TYPE_BOOST = 0.25

# target pandas-frame size for bucket-grouped link scoring: big enough to
# amortize Spark's per-group slicing/FFI cost (~0.3 ms/group) ~100× over
# per-conversation grouping, small enough that a frame of (surface, …)
# string rows stays tens of MB on an executor
TARGET_GROUP_ROWS = 50_000


def groups_for(approx_rows: int, parallelism: int = 0,
               target_rows: int = TARGET_GROUP_ROWS) -> int:
    """Data-scaled group count for ``score_links_grouped(n_groups=...)``:
    ``ceil(rows / target_rows)``, floored at ``parallelism`` so small inputs
    still use every core.  The count grows WITH the data — each group stays
    ~``target_rows`` rows at any corpus size (never a fixed fraction of the
    table, which would OOM executors at 10^12 turns)."""
    return max(1, -(-int(approx_rows) // target_rows), int(parallelism))


def surface_conv_df(mention_rows: DataFrame, entity_kb: DataFrame) -> dict:
    """Per-surface document frequency = number of DISTINCT conversations the
    surface is mentioned in, restricted to KB surfaces (the only surfaces
    whose max-prior links can serve as coreference evidence).

    Feeds the df-WEIGHTED context scorer: evidence from a surface seen in
    thousands of conversations ("42") is weaker than evidence from a rare
    one ("Marie Curie") — weight ``1/(1+ln(df))``, so df=1 keeps the full
    boost and the weight decays slowly (log-scale, like IDF).

    Scale: one distinct-aggregate over mention rows, semi-joined down to the
    KB vocabulary via broadcast BEFORE the collect — the returned dict is
    bounded by KB size (a fixed dimension), never by corpus size."""
    surf = entity_kb.select("surface").distinct()
    rows = (
        mention_rows.join(F.broadcast(surf), "surface")
        .groupBy("surface")
        .agg(F.countDistinct("conv_id").alias("df"))
        .collect()
    )
    return {r["surface"]: int(r["df"]) for r in rows}


def type_conv_df(
    mention_rows: DataFrame, entity_kb: DataFrame, figer_map: DataFrame
) -> dict:
    """Per-FIGER-type document frequency = number of DISTINCT conversations
    containing a surface whose max-prior link carries that type — the
    LEARNED counterpart of the flat ``TYPE_BOOST`` constant.

    Feeds the type-df-WEIGHTED context scorer: type-coherence evidence from
    a type that appears in most conversations ("/organization" in a business
    corpus) says almost nothing about which candidate is right, while a rare
    type ("/astronaut") is strong evidence — weight ``1/(1+ln(df))``, same
    IDF-shaped decay as :func:`surface_conv_df`.

    Scale: one broadcast join chain + a distinct-aggregate keyed on type;
    the returned dict is bounded by the TYPE inventory (a fixed dimension,
    ~100s), never by corpus size."""
    w = Window.partitionBy("surface").orderBy(
        F.col("prior").desc(), F.col("url").asc()
    )
    best = (
        entity_kb.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("surface", "url")
    )
    typed = (
        mention_rows.select("conv_id", "surface")
        .distinct()
        .join(F.broadcast(best), "surface")
        .join(F.broadcast(figer_map), "url")
        .where(
            (F.col("figer_type") != "") & (F.col("figer_type") != "none")
        )
    )
    rows = (
        typed.groupBy("figer_type")
        .agg(F.countDistinct("conv_id").alias("df"))
        .collect()
    )
    return {r["figer_type"]: int(r["df"]) for r in rows}


def score_links_grouped(
    mention_rows: DataFrame,
    kb_bc: Broadcast,
    figer_bc: Broadcast,
    mode: str = "prior",
    cands_bc: Broadcast = None,
    boost: float = CTX_BOOST,
    type_boost: float = 0.0,
    df_bc: Broadcast = None,
    tdf_bc: Broadcast = None,
    n_groups: int = None,
) -> DataFrame:
    """applyInPandas link scoring grouped **by conversation** — the
    north_star's batched link-scoring stage: a context-aware scorer sees all
    of one conversation's mentions in one pandas frame.

    Input: exploded mention rows (operators/mentions.explode_mentions).
    Output: same rows + (url, figer, score).

    Two scorer modes behind one schema (the linker-swap design the reference
    proves with its Spotlight shim, ``ner_nel.py:207-255``):

    * ``mode='prior'`` — max-prior candidate per surface (equality-tested
      against the fused kernels' dict linker and the broadcast-join linker).
    * ``mode='context'`` — the reason this stage is conversation-grouped:
      each candidate's score is ``prior + boost·[url ∈ ctx]`` where ``ctx``
      is the set of max-prior URLs of the OTHER surfaces in the same
      conversation; ties break (score desc, url asc).  With no other
      surfaces (or no overlap) every boost is 0 and the scorer degrades
      exactly to max-prior (equality-tested).  Needs ``cands_bc`` — the
      FULL candidate lists per surface (plans.pipeline.
      build_candidates_broadcast), not just the max-prior winner.
      ``type_boost > 0`` adds the second context signal: + type_boost when
      the candidate's FIGER type matches the type of another surface's
      max-prior link in the conversation (TYPE_BOOST; 0 disables — the
      default keeps the single-signal scorer bit-identical).
      ``df_bc`` (surface → distinct-conversation document frequency, see
      ``surface_conv_df``) WEIGHTS the coreference boost by its strongest
      evidence surface: ``boost · max(1/(1+ln(df(s2))))`` over the other
      surfaces s2 whose max-prior link is this candidate — ubiquitous
      surfaces stop flipping links they know nothing about.  ``None``
      weights every evidence surface 1.0 (bit-identical to the unweighted
      scorer; the boost multiplies by exactly 1.0).
      ``tdf_bc`` (FIGER type → distinct-conversation document frequency,
      ``type_conv_df``) is the LEARNED per-type boost weight: the type
      boost becomes ``type_boost · 1/(1+ln(df(t)))`` for the candidate's
      own type t — a type present in most conversations carries no
      coherence signal and stops flipping links.  ``None`` keeps the flat
      constant (bit-identical — the boost multiplies by exactly 1.0).

    Scale contract, two group granularities:

    * ``n_groups=None`` — group key is ``conv_id``: the largest pandas frame
      is ONE conversation's mentions, bounded by conversation length.
      Simple, but Spark's per-group slicing/FFI overhead (~0.3 ms/group) is
      paid once per CONVERSATION — measured ~8.5 s of a 12.7 s bench run at
      30k single-turn conversations.
    * ``n_groups=N`` — group key is ``pmod(xxhash64(conv_id), N)``:
      conversations stay whole (same hash ⇒ same group), the per-group
      overhead amortizes over ~rows/N rows, and the context scorer iterates
      per-conversation INSIDE the frame, so its semantics are unchanged
      (equality-tested against the per-conv grouping).  Size N from the DATA
      — ``N = ceil(rows / target_rows)`` with target_rows ~50k — so each
      frame is ~50k rows regardless of corpus size.  N must NOT be a fixed
      constant independent of data volume: a constant P makes each group
      1/P of the *table* — hundreds of GB per frame at 10^12 turns.
    """
    if mode == "context" and cands_bc is None:
        raise ValueError("mode='context' requires cands_bc (full candidate lists)")
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in mention_rows.schema.fields
    )
    out_schema = out_fields + ", url string, figer string, score double"
    out_cols = [f.name for f in mention_rows.schema.fields] + [
        "url", "figer", "score"
    ]

    def _attach(pdf: pd.DataFrame, per_surface: Dict[str, tuple]) -> pd.DataFrame:
        mapped = pdf["surface"].astype(str).map(per_surface)
        pdf = pdf.copy()
        pdf["url"] = mapped.str[0]
        pdf["figer"] = mapped.str[1]
        pdf["score"] = mapped.str[2]
        return pdf

    def score_prior(pdf: pd.DataFrame) -> pd.DataFrame:
        # conversation-independent: score each DISTINCT surface once across
        # the whole frame, map back over the rows — the Python work per
        # frame is O(unique surfaces), not O(mention rows), whichever
        # grouping produced the frame
        kb = kb_bc.value
        figer = figer_bc.value
        per_surface: Dict[str, tuple] = {}
        for s in pd.unique(pdf["surface"].astype(str)):
            url, fg = rules.link_mention(s, kb, figer)
            hit = kb.get(s)
            per_surface[s] = (url, fg, float(hit[1]) if hit is not None else 0.0)
        return _attach(pdf, per_surface)

    def score_context_one_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        cands = cands_bc.value  # surface -> [(url, prior)] (prior desc, url asc)
        figer = figer_bc.value
        dfm = df_bc.value if df_bc is not None else None
        tdfm = tdf_bc.value if tdf_bc is not None else None
        tw_of = (
            (lambda t: 1.0)
            if tdfm is None
            else (lambda t: 1.0 / (1.0 + math.log(tdfm.get(t, 1))))
        )
        uniq = pd.unique(pdf["surface"].astype(str))
        # max-prior URL per distinct surface in THIS conversation (row-order
        # independent: derived from the pre-sorted candidate lists)
        best = {s: cands[s][0][0] for s in uniq if s in cands}
        # evidence weight per surface: 1.0 unweighted, else 1/(1+ln(df))
        w_of = (
            (lambda s2: 1.0)
            if dfm is None
            else (lambda s2: 1.0 / (1.0 + math.log(dfm.get(s2, 1))))
        )

        def _ftype(url: str):
            fg = figer.get(url)
            return fg if fg not in (None, "", "none") else None

        per_surface: Dict[str, tuple] = {}
        for s in uniq:
            cl = cands.get(s)
            if cl is None:
                per_surface[s] = (
                    rules.NOT_IN_WIKI_PREFIX + s.replace(" ", "_"), "none", 0.0
                )
                continue
            # url -> strongest evidence weight among the OTHER surfaces
            # whose max-prior link is that url (max: rarest evidence wins)
            ctx_w: Dict[str, float] = {}
            for s2, u in best.items():
                if s2 == s:
                    continue
                w = w_of(s2)
                if u not in ctx_w or w > ctx_w[u]:
                    ctx_w[u] = w
            # FIGER types of the OTHER surfaces' max-prior links — the
            # type-coherence evidence set (only real types participate)
            ctx_types = (
                {t for u in ctx_w if (t := _ftype(u)) is not None}
                if type_boost
                else set()
            )
            chosen_url, chosen_score = None, None
            for url, prior in cl:
                sc = prior + (boost * ctx_w[url] if url in ctx_w else 0.0)
                if type_boost and (t := _ftype(url)) in ctx_types:
                    sc += type_boost * tw_of(t)
                if (
                    chosen_score is None
                    or sc > chosen_score
                    or (sc == chosen_score and url < chosen_url)
                ):  # (score desc, url asc) — same tie-break as the SQL oracle
                    chosen_url, chosen_score = url, sc
            fg = figer.get(chosen_url, "none")
            per_surface[s] = (
                chosen_url, fg if fg != "" else "none", float(chosen_score)
            )
        return _attach(pdf, per_surface)

    def score_context(pdf: pd.DataFrame) -> pd.DataFrame:
        # context is PER CONVERSATION: under bucket grouping the frame holds
        # many whole conversations — iterate them inside the frame so the
        # ctx set never crosses a conversation boundary
        if pdf["conv_id"].nunique() <= 1:
            return score_context_one_conv(pdf)
        return pd.concat(
            [
                score_context_one_conv(g)
                for _cid, g in pdf.groupby("conv_id", sort=False)
            ],
            ignore_index=True,
        )

    score = score_context if mode == "context" else score_prior
    if n_groups:
        grouped = mention_rows.withColumn(
            "_grp", F.pmod(F.xxhash64("conv_id"), F.lit(int(n_groups)))
        ).groupBy("_grp")
        return grouped.applyInPandas(
            lambda key, pdf: score(pdf.drop(columns="_grp")), schema=out_schema
        ).select(*out_cols)
    # the groupBy below is itself the shuffle — no pre-repartition
    return mention_rows.groupBy("conv_id").applyInPandas(
        lambda key, pdf: score(pdf), schema=out_schema
    )


def link_mentions_broadcast_join(
    mention_rows: DataFrame, entity_kb: DataFrame, figer_map: DataFrame
) -> DataFrame:
    """Native variant: J3 broadcast hash joins, no Python.

    Candidate selection = highest-prior URL per surface (``max_by``), the
    AGDISTIS-analog disambiguation; unknown surfaces take the notInWiki URL
    (binary_relation.py:115-122 branch); FIGER default 'none' for absent or
    empty mappings (nel.py:302-306).
    """
    # min_by over (-prior, url): max prior, ties broken url-ASC — the ONE
    # tie convention all four linkers share (build_candidates_broadcast /
    # surface_type_df use the same (prior desc, url asc) order), so the
    # equality-tested interchangeability holds even on KBs with tied
    # priors, where a bare max_by("url", "prior") is nondeterministic
    best = entity_kb.groupBy("surface").agg(
        F.min_by(
            "url", F.struct((-F.col("prior")).alias("np"), F.col("url"))
        ).alias("kb_url"),
        F.max("prior").alias("score"),
    )
    figer = figer_map.select(
        F.col("url").alias("kb_url2"), F.col("figer_type")
    )
    out = (
        mention_rows.join(F.broadcast(best), "surface", "left")
        .withColumn(
            "url",
            F.coalesce(
                F.col("kb_url"),
                F.concat(
                    F.lit(NOT_IN_WIKI_PREFIX),
                    F.regexp_replace(F.col("surface"), " ", "_"),
                ),
            ),
        )
        .withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
        .drop("kb_url")
        .join(
            F.broadcast(figer), F.col("url") == F.col("kb_url2"), "left"
        )
        .withColumn(
            "figer",
            F.coalesce(F.nullif(F.col("figer_type"), F.lit("")), F.lit("none")),
        )
        .drop("kb_url2", "figer_type")
    )
    return out
