"""Distributed KG-embedding training (TransE / DistMult / ComplEx) +
link-prediction eval — an expressiveness ladder of three models on ONE
dataflow harness: TransE (translational), DistMult (symmetric bilinear),
ComplEx (complex bilinear — models asymmetric relations), all sharing
the deterministic-negative / role-stack / int64-fixed-point discipline
documented below for TransE.

The KB-completion stage that follows canonicalization in a modern KG
pipeline: learn a vector per canonical entity and per canonical predicate
such that ``h + r ≈ t`` for true facts (Bordes et al. 2013, TransE), then
score held-out facts by ranking the true tail against every candidate
entity (filtered ranking, Bordes' protocol).  No reference analog (the
reference stops at triple emission, de_pipeline/pipeline.py:69-77);
beyond-reference KG-completion surface.

Why this operator is the interesting one at 100 TB: unlike the quality
classifier (operators/classifier.py), whose weight vector is
dimension-sized and driver-held, the TransE parameter table is
**entity-keyed — it scales with the corpus** and therefore must itself
stay a DataFrame.  Training here is a pure dataflow loop:

* parameters live in LONG format ``(id, j, w)`` — embedding joins,
  gradient aggregation, and updates are all keyed equi-joins/groupBys on
  ``(id, j)``;
* each iteration is a constant number of hash Exchanges over
  O(n_facts × dim) rows (role join → per-fact pivot → margin test →
  gradient scatter → parameter join-update → entity renorm);
* nothing parameter- or data-sized ever reaches the driver — the only
  driver scalars are ``n_entities`` and ``n_facts``;
* lineage is truncated with a ``localCheckpoint`` per iteration (the
  connected-components discipline, operators/canonicalize.py), freeing
  each superseded round's blocks.

Determinism / oracle contract (the sequential replica
:func:`transe_train_numpy` implements the SAME spec, wired to the
sequential KG materializations by ``sources/oracle_mat.transe_aux``):

* init    w0[id, j] = round6((md5_frac(id + '#' + j) * 2 - 1) * scale)
  with ``md5_frac`` = ``sampling.hash_bucket`` / 2^32 (exact in binary:
  the hash is < 2^53 and the divisor a power of two) and
  ``scale = 6 / sqrt(dim)`` (TransE's uniform init bound);
* entity rows are L2-normalized after init and after every update:
  n2 = round9(Σ_j w²);  w ← round6(w / sqrt(max(n2, 1e-12)));
* the corrupted tail of fact ``f`` is the entity at position
  ``hash(fid) mod n_entities`` in the deterministic entity order of
  ``sampling.shuffle_deterministic`` (+1 if it lands on the true tail)
  — static negative sampling, a pure function of the fact;
* all cross-row arithmetic runs in FIXED POINT: a round-6 parameter is
  an exact integer count of 1e-6 units, so residuals
  ``dp_j = h + r − t``, squared distances ``dpi = Σ_j dp_j²`` (1e-12
  units), the margin test ``margin·1e12 + dpi − dni > 0``, gradient
  contributions ``2(dp_j − dn_j)`` / ``−2·dp_j`` / ``+2·dn_j``, their
  per-parameter sums, and the norm-square are ALL int64 — integer
  addition is exact under any order, so shuffle/accumulation order
  cannot perturb a single bit;
* the only float steps are elementwise on bit-identical inputs:
  g = gsum·1e-6 / n_facts, update w ← round6(w − lr·g), renorm
  w ← round6(w / sqrt(max(n2·1e-12, 1e-12))) — IEEE-deterministic.

Rounding is Spark ``F.round`` semantics — HALF_UP on the exact binary
double — which the replica reproduces exactly via ``decimal.Decimal``
(see ``_round_half_up``).  The first cut quantized FLOAT sums instead
(round7/round9): at sf0.01 that left 2-4 of 7,344 parameters off by
1e-6 from knife-edge sum-order drift — hence the integer contract,
which is drift-FREE by construction rather than drift-improbable.
Magnitude headroom: |w| ≤ ~8 ⇒ residuals ≤ 2.4e7 units, squares
≤ 6e14, dim-summed ≤ 1e16, fact-summed gradients ≤ ~1e12 — all far
inside int64.  The DuckDB gate on the
emitted embeddings therefore verifies the distributed machinery — role
joins, gradient shuffles, checkpointed iteration — against a
single-threaded run of the same math.
"""

from __future__ import annotations

import hashlib
from typing import Dict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .sampling import hash_bucket, shuffle_deterministic

#: field separator inside the synthetic fact id — ASCII unit separator,
#: cannot appear in generated entity keys / predicate strings
SEP = "\x1f"


def fid_col() -> "F.Column":
    """Deterministic fact id: ``s <US> p <US> o`` (SQL: ``chr(31)``)."""
    return F.concat(
        F.col("s"), F.lit(SEP), F.col("p"), F.lit(SEP), F.col("o")
    )


def is_test_fact(test_mod: int = 5, salt: str = "transe") -> "F.Column":
    """The held-out test membership of a ``(s, p, o)`` row — the hash
    split shared by training (which EXCLUDES these facts) and
    :func:`link_prediction_ranks` (which evaluates exactly them)."""
    return (
        F.pmod(hash_bucket(fid_col(), salt + "-split"), F.lit(int(test_mod)))
        == 0
    )


def fact_table(edges: DataFrame, pred_map: DataFrame | None = None) -> DataFrame:
    """Distinct resolved facts ``(s, p, o)`` from the canonical edge table
    — the same derivation ontology.mine_rules uses (multiplicity is
    evidence, not logical truth; unlinked endpoints are excluded)."""
    linked = edges.where(
        F.col("subj_canonical").isNotNull()
        & F.col("obj_canonical").isNotNull()
    )
    if pred_map is not None:
        linked = linked.join(F.broadcast(pred_map), "pred", "left")
    return (
        linked.select(
            F.col("subj_canonical").alias("s"),
            F.coalesce("pred_canonical", "pred").alias("p"),
            F.col("obj_canonical").alias("o"),
        )
        .distinct()
    )


def init_embeddings(
    ids: DataFrame, id_col: str, dim: int, init_scale: float, salt: str
) -> DataFrame:
    """Hash-deterministic uniform init in ``(-init_scale, init_scale)``:
    long-format ``(id, j, w)``, a pure function of (id, j, salt) — no RNG
    state, no partitioning dependence, SQL-replicable."""
    u = hash_bucket(
        F.concat(F.col(id_col), F.lit("#"), F.col("j").cast("string")), salt
    )
    return (
        ids.select(
            F.col(id_col).alias("id"),
            F.explode(F.sequence(F.lit(0), F.lit(int(dim) - 1))).alias("j"),
        )
        .select(
            "id",
            "j",
            F.round(
                (u / F.lit(float(2**32)) * F.lit(2.0) - F.lit(1.0))
                * F.lit(float(init_scale)),
                6,
            ).alias("w"),
        )
    )


def normalize_unit(emb: DataFrame) -> DataFrame:
    """L2-normalize each embedding row of a long-format ``(id, j, w)``
    table; the norm-square is an EXACT int64 sum of squared 1e-6 units
    (then one deterministic ×1e-12 float conversion), so partition sum
    order cannot leak a single bit into the round-6 parameters."""
    wi = F.round(F.col("w") * F.lit(1e6)).cast("long")
    norms = emb.groupBy("id").agg(
        (F.sum(wi * wi).cast("double") * F.lit(1e-12)).alias("_n2")
    )
    return emb.join(norms, "id").select(
        "id",
        "j",
        F.round(
            F.col("w") / F.sqrt(F.greatest(F.col("_n2"), F.lit(1e-12))), 6
        ).alias("w"),
    )


def _facts_with_negatives(facts: DataFrame, salt: str) -> tuple:
    """Attach the deterministic corrupted tail to every fact.  Returns
    ``(f, ent_index, n_entities)`` where ``f`` carries
    (s, p, o, fid, t2)."""
    ents = (
        facts.select(F.col("s").alias("ent"))
        .unionByName(facts.select(F.col("o").alias("ent")))
        .distinct()
    )
    # deterministic dense 0..n-1 entity positions WITHOUT a single-task
    # global window: shuffle_deterministic's two-phase rank (range
    # partition on the hash → local row_number → broadcast offsets)
    eidx = shuffle_deterministic(ents, "ent", salt=salt + "-idx").select(
        "ent", F.col("shuffle_pos").alias("eidx")
    )
    n_ent = eidx.count()
    f = (
        facts.select("s", "p", "o", fid_col().alias("fid"))
        .join(
            eidx.select(
                F.col("ent").alias("o"), F.col("eidx").alias("_tidx")
            ),
            "o",
        )
        .withColumn(
            "_raw",
            F.pmod(hash_bucket(F.col("fid"), salt + "-neg"), F.lit(n_ent)),
        )
        .withColumn(
            "_t2idx",
            F.when(
                F.col("_raw") == F.col("_tidx"),
                F.pmod(F.col("_raw") + 1, F.lit(n_ent)),
            ).otherwise(F.col("_raw")),
        )
        .join(
            eidx.select(
                F.col("eidx").alias("_t2idx"), F.col("ent").alias("t2")
            ),
            "_t2idx",
        )
        .select("s", "p", "o", "t2", "fid")
    )
    return f, eidx, n_ent


def _grad_means(rows: DataFrame, n_facts: int, unit: float) -> DataFrame:
    """Exact integer gradient sum → ONE deterministic float conversion
    ``g = gsum · unit / n_facts`` — the shuffle-order-proof step shared
    verbatim by all three trainers.  ``unit`` is the fixed-point scale of
    the ``g_term`` column (1e-6 for TransE's squared-distance gradients,
    1e-8 for the DistMult/ComplEx pair products).  Keyed by ``_rel``
    (the ``r`` role's rows feed the relation table, the others the entity
    table) as well as ``(id, j)``, so an entity and a relation that share
    an id never pool their sums."""
    return rows.groupBy(
        (F.col("role") == "r").alias("_rel"), F.col("pid").alias("id"), "j"
    ).agg(
        (
            F.sum("g_term").cast("double")
            * F.lit(float(unit))
            / F.lit(float(n_facts))
        ).alias("_g")
    )


def _sgd_step(emb: DataFrame, grads: DataFrame, lr: float) -> DataFrame:
    """Round-6 parameter update ``w ← round(w − lr·g, 6)`` — elementwise
    on bit-identical inputs, so deterministic; one implementation keeps
    the three trainers' fixed-point contract in lockstep with the numpy
    replicas by construction."""
    return emb.join(grads, ["id", "j"], "left").select(
        "id",
        "j",
        F.round(
            F.col("w") - F.lit(float(lr)) * F.coalesce("_g", F.lit(0.0)),
            6,
        ).alias("w"),
    )


def _rotate_params(
    cache,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    contrib: DataFrame,
    n_facts: int,
    lr: float,
    unit: float,
    scratch: DataFrame,
) -> tuple:
    """One per-iteration parameter rotation, shared by the trainers:
    gradient means → round-6 update (entities renormalized) → checkpoint
    the new tables (lineage truncation), then unpersist the iteration's
    ``scratch`` frame and free the superseded parameter blocks.

    Both tables update from one persisted gradient aggregate, so
    ``contrib`` (the margin test and its joins) runs once per round, not
    once per checkpoint."""
    grads = _grad_means(contrib, n_facts, unit).persist()
    new_ent = cache.checkpoint(
        normalize_unit(
            _sgd_step(ent_emb, grads.where(~F.col("_rel")).drop("_rel"), lr)
        )
    )
    new_rel = cache.checkpoint(
        _sgd_step(rel_emb, grads.where(F.col("_rel")).drop("_rel"), lr)
    )
    grads.unpersist()
    scratch.unpersist()
    cache.free_checkpoint(ent_emb)
    cache.free_checkpoint(rel_emb)
    return new_ent, new_rel


def train_transe(
    facts: DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 0.1,
    margin: float = 1.0,
    salt: str = "transe",
) -> Dict[str, object]:
    """Train TransE embeddings over a ``(s, p, o)`` fact table; returns
    ``{"ent_emb", "rel_emb", "n_entities", "n_relations", "n_facts"}``
    with both embedding tables in long format ``(id, j, w)``, round-6,
    entity rows unit-normalized.

    Distributed shape per iteration (see module docstring): one 4-way
    role explode of the fact table joined against the two parameter
    tables, a per-(fact, dim) pivot, the margin test, a gradient
    scatter-aggregate back onto (id, j), the join-update, and the entity
    renorm — all keyed Exchanges, no collects, no driver-side parameters.
    Iteration count is a constant, so the 100 TB cost is
    ``n_iter × O(n_facts · dim)`` shuffled rows; both parameter tables
    are localCheckpoint'ed per round (lineage truncation; superseded
    blocks freed immediately, the canonicalize/CC discipline).
    """
    from . import cache

    f, eidx, n_ent = _facts_with_negatives(facts, salt)
    # static across iterations: (fid, role, pid) — 4 rows per fact
    roles = f.select(
        "fid",
        F.expr(
            "stack(4, 'h', s, 'r', p, 't', o, 'n', t2) AS (role, pid)"
        ),
    ).select("fid", "role", "pid")
    roles.persist()
    try:
        n_facts = roles.count() // 4
        if n_facts == 0:
            raise ValueError("cannot train on an empty fact table")
        rels = facts.select(F.col("p").alias("id")).distinct()
        init_scale = 6.0 / float(np.sqrt(dim))
        ent_emb = cache.checkpoint(
            normalize_unit(
                init_embeddings(
                    eidx.select(F.col("ent").alias("id")),
                    "id", dim, init_scale, salt + "-ent",
                )
            )
        )
        rel_emb = cache.checkpoint(
            init_embeddings(rels, "id", dim, init_scale, salt + "-rel")
        )
        n_rel = rel_emb.count() // int(dim)

        is_ent_role = F.col("role").isin("h", "t", "n")
        margin_int = int(round(float(margin) * 1e12))  # 1e-12 units
        for _ in range(int(n_iter)):
            per = (
                roles.where(is_ent_role)
                .join(ent_emb, F.col("pid") == F.col("id"))
                .unionByName(
                    roles.where(F.col("role") == "r").join(
                        rel_emb, F.col("pid") == F.col("id")
                    )
                )
                .select(
                    "fid",
                    "role",
                    "j",
                    # fixed-point view: round-6 params are exact integer
                    # counts of 1e-6 units — everything summed from here
                    # on is int64 (order-proof, see module docstring)
                    F.round(F.col("w") * F.lit(1e6)).cast("long").alias("wi"),
                )
            )
            piv = per.groupBy("fid", "j").agg(
                F.max(F.when(F.col("role") == "h", F.col("wi"))).alias("h"),
                F.max(F.when(F.col("role") == "r", F.col("wi"))).alias("r"),
                F.max(F.when(F.col("role") == "t", F.col("wi"))).alias("t"),
                F.max(F.when(F.col("role") == "n", F.col("wi"))).alias("n"),
            )
            # per-(fact, dim) integer residuals feed BOTH the margin test
            # and the gradient scatter — persist so the role join runs once
            diffs = piv.select(
                "fid",
                "j",
                (F.col("h") + F.col("r") - F.col("t")).alias("dp_j"),
                (F.col("h") + F.col("r") - F.col("n")).alias("dn_j"),
            )
            diffs.persist()
            viol = (
                diffs.groupBy("fid")
                .agg(
                    F.sum(F.col("dp_j") * F.col("dp_j")).alias("dpi"),
                    F.sum(F.col("dn_j") * F.col("dn_j")).alias("dni"),
                )
                .where(
                    F.lit(margin_int) + F.col("dpi") - F.col("dni") > 0
                )
                .select("fid")
            )
            contrib = (
                diffs.join(viol, "fid")
                .join(roles, "fid")
                .select(
                    "role",
                    "pid",
                    "j",
                    F.when(
                        F.col("role").isin("h", "r"),
                        F.lit(2) * (F.col("dp_j") - F.col("dn_j")),
                    )
                    .when(F.col("role") == "t", F.lit(-2) * F.col("dp_j"))
                    .otherwise(F.lit(2) * F.col("dn_j"))
                    .alias("g_term"),
                )
            )

            ent_emb, rel_emb = _rotate_params(
                cache, ent_emb, rel_emb, contrib, n_facts, lr, 1e-6, diffs
            )
    finally:
        roles.unpersist()
    return {
        "ent_emb": ent_emb,
        "rel_emb": rel_emb,
        "n_entities": n_ent,
        "n_relations": n_rel,
        "n_facts": n_facts,
    }


def train_distmult(
    facts: DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 0.1,
    margin: float = 1.0,
    salt: str = "distmult",
) -> Dict[str, object]:
    """Train DistMult embeddings (Yang et al. 2015, "Embedding Entities
    and Relations for Learning and Inference in Knowledge Bases") over a
    ``(s, p, o)`` fact table — the second model of the KG-completion
    family, sharing train_transe's entire dataflow harness (deterministic
    negatives, role stack, parameter-table joins, checkpointed iteration)
    with a TRILINEAR score ψ(f) = Σ_j h_j·r_j·t_j (higher = better) in
    place of TransE's translation distance.  Margin ranking loss:
    a fact violates when ``margin − ψ(pos) + ψ(neg) > 0``; gradients for a
    violating fact are ``∂h = r(n−t)``, ``∂r = h(n−t)``, ``∂t = −h·r``,
    ``∂n = +h·r``.

    Fixed-point contract (the TransE int64 discipline adapted to a triple
    product): round-6 parameters are QUANTIZED to exact integer 1e-4
    units (``round(w·1e4)`` — deterministic, elementwise, part of the
    algorithm spec shared with :func:`distmult_train_numpy`); per-dim
    triple products are then int64 in 1e-12 units (|h·r·t| ≤ 1e4·8e4·1e4
    = 8e12, dim-summed ≤ ~1.3e14), the margin test compares int64
    exactly, and gradient terms (pair products, 1e-8 units, ≤ 1.6e9 per
    fact) sum in int64 — shuffle order cannot perturb a bit.  The only
    float steps are elementwise on bit-identical inputs (g = gsum·1e-8 /
    n_facts; round-6 update; entity renorm).  Magnitude headroom |w| ≤ 8
    is asserted by the sequential replica.  Entities are unit-normalized
    per round (as in TransE); relations are unconstrained (DistMult's
    standard setup).
    """
    from . import cache

    f, eidx, n_ent = _facts_with_negatives(facts, salt)
    roles = f.select(
        "fid",
        F.expr(
            "stack(4, 'h', s, 'r', p, 't', o, 'n', t2) AS (role, pid)"
        ),
    ).select("fid", "role", "pid")
    roles.persist()
    try:
        n_facts = roles.count() // 4
        if n_facts == 0:
            raise ValueError("cannot train on an empty fact table")
        rels = facts.select(F.col("p").alias("id")).distinct()
        init_scale = 6.0 / float(np.sqrt(dim))
        ent_emb = cache.checkpoint(
            normalize_unit(
                init_embeddings(
                    eidx.select(F.col("ent").alias("id")),
                    "id", dim, init_scale, salt + "-ent",
                )
            )
        )
        rel_emb = cache.checkpoint(
            init_embeddings(rels, "id", dim, init_scale, salt + "-rel")
        )
        n_rel = rel_emb.count() // int(dim)

        is_ent_role = F.col("role").isin("h", "t", "n")
        margin_int = int(round(float(margin) * 1e12))  # 1e-12 units
        for _ in range(int(n_iter)):
            per = (
                roles.where(is_ent_role)
                .join(ent_emb, F.col("pid") == F.col("id"))
                .unionByName(
                    roles.where(F.col("role") == "r").join(
                        rel_emb, F.col("pid") == F.col("id")
                    )
                )
                .select(
                    "fid",
                    "role",
                    "j",
                    # 1e-4-unit quantized view — the triple-product
                    # headroom bound (module docstring)
                    F.round(F.col("w") * F.lit(1e4)).cast("long").alias("wi"),
                )
            )
            # per-(fact, dim) quantized role values feed BOTH the margin
            # test and the gradient terms — persist so the role join runs
            # once per iteration
            piv = per.groupBy("fid", "j").agg(
                F.max(F.when(F.col("role") == "h", F.col("wi"))).alias("h"),
                F.max(F.when(F.col("role") == "r", F.col("wi"))).alias("r"),
                F.max(F.when(F.col("role") == "t", F.col("wi"))).alias("t"),
                F.max(F.when(F.col("role") == "n", F.col("wi"))).alias("n"),
            )
            piv.persist()
            viol = (
                piv.groupBy("fid")
                .agg(
                    F.sum(
                        F.col("h") * F.col("r") * F.col("t")
                    ).alias("psip"),
                    F.sum(
                        F.col("h") * F.col("r") * F.col("n")
                    ).alias("psin"),
                )
                .where(
                    F.lit(margin_int) - F.col("psip") + F.col("psin") > 0
                )
                .select("fid")
            )
            # gradient terms per (fact, role, dim), 1e-8 units
            contrib = (
                piv.join(viol, "fid")
                .select(
                    "fid",
                    "j",
                    F.explode(
                        F.create_map(
                            F.lit("h"), F.col("r") * (F.col("n") - F.col("t")),
                            F.lit("r"), F.col("h") * (F.col("n") - F.col("t")),
                            F.lit("t"), -F.col("h") * F.col("r"),
                            F.lit("n"), F.col("h") * F.col("r"),
                        )
                    ).alias("role", "g_term"),
                )
                .join(roles, ["fid", "role"])
            )

            ent_emb, rel_emb = _rotate_params(
                cache, ent_emb, rel_emb, contrib, n_facts, lr, 1e-8, piv
            )
    finally:
        roles.unpersist()
    return {
        "ent_emb": ent_emb,
        "rel_emb": rel_emb,
        "n_entities": n_ent,
        "n_relations": n_rel,
        "n_facts": n_facts,
    }


def train_complex(
    facts: DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 0.1,
    margin: float = 1.0,
    salt: str = "complex",
) -> Dict[str, object]:
    """Train ComplEx embeddings (Trouillon et al. 2016, "Complex
    Embeddings for Simple Link Prediction") — the third model of the
    KG-completion family, completing the expressiveness ladder: TransE is
    translational, DistMult is a SYMMETRIC bilinear form (it provably
    cannot rank ``(a,p,b)`` above ``(b,p,a)``), ComplEx scores with the
    real part of a complex trilinear product and models ASYMMETRIC
    relations.  Same dataflow harness as the other two (deterministic
    negatives, role stack, int64 gradient shuffles, checkpointed
    iteration).

    Representation: each id's embedding is a complex vector of ``dim``
    dims stored as ``2·dim`` long-format rows — ``j < dim`` real parts,
    ``j ≥ dim`` imaginary parts.  Score (real part of ⟨h, r, conj(t)⟩):

        ψ = Σ_m  hr·rr·tr + hi·rr·ti + hr·ri·ti − hi·ri·tr

    over component index ``m = j mod dim``.  Margin ranking loss as in
    DistMult; gradients of ``−ψ(pos) + ψ(neg)`` per component:

        ∂hr = rr·(nr−tr) + ri·(ni−ti)    ∂hi = rr·(ni−ti) − ri·(nr−tr)
        ∂rr = hr·(nr−tr) + hi·(ni−ti)    ∂ri = hr·(ni−ti) − hi·(nr−tr)
        ∂tr = −(hr·rr − hi·ri)           ∂ti = −(hi·rr + hr·ri)
        ∂nr = +(hr·rr − hi·ri)           ∂ni = +(hi·rr + hr·ri)

    Fixed point: DistMult's discipline verbatim — params quantized to
    exact 1e-4 units, per-component triple products int64 in 1e-12 units
    (4 terms × dim ≤ ~5e14), gradient terms pair-product sums in 1e-8
    units — so the distributed run is bit-equal to
    :func:`complex_train_numpy`.  Entities unit-normalized over the full
    2·dim vector (the determinism-friendly analog of Trouillon's L2
    regularizer); relations unconstrained.
    """
    from . import cache

    f, eidx, n_ent = _facts_with_negatives(facts, salt)
    roles = f.select(
        "fid",
        F.expr(
            "stack(4, 'h', s, 'r', p, 't', o, 'n', t2) AS (role, pid)"
        ),
    ).select("fid", "role", "pid")
    roles.persist()
    try:
        n_facts = roles.count() // 4
        if n_facts == 0:
            raise ValueError("cannot train on an empty fact table")
        rels = facts.select(F.col("p").alias("id")).distinct()
        d2 = 2 * int(dim)
        init_scale = 6.0 / float(np.sqrt(dim))
        ent_emb = cache.checkpoint(
            normalize_unit(
                init_embeddings(
                    eidx.select(F.col("ent").alias("id")),
                    "id", d2, init_scale, salt + "-ent",
                )
            )
        )
        rel_emb = cache.checkpoint(
            init_embeddings(rels, "id", d2, init_scale, salt + "-rel")
        )
        n_rel = rel_emb.count() // d2

        is_ent_role = F.col("role").isin("h", "t", "n")
        margin_int = int(round(float(margin) * 1e12))  # 1e-12 units
        re_ = F.col("j") < dim  # real-part rows of the 2·dim layout
        for _ in range(int(n_iter)):
            per = (
                roles.where(is_ent_role)
                .join(ent_emb, F.col("pid") == F.col("id"))
                .unionByName(
                    roles.where(F.col("role") == "r").join(
                        rel_emb, F.col("pid") == F.col("id")
                    )
                )
                .select(
                    "fid",
                    "role",
                    "j",
                    F.round(F.col("w") * F.lit(1e4)).cast("long").alias("wi"),
                )
            )

            def part(role, real):  # noqa: B023 — rebuilt per iteration
                cond = (F.col("role") == role) & (re_ if real else ~re_)
                return F.max(F.when(cond, F.col("wi")))

            # per-(fact, component) pivot: 8 quantized values feed both
            # the margin test and the gradient terms
            piv = per.groupBy(
                "fid", F.pmod(F.col("j"), F.lit(int(dim))).alias("m")
            ).agg(
                part("h", True).alias("hr"), part("h", False).alias("hi"),
                part("r", True).alias("rr"), part("r", False).alias("ri"),
                part("t", True).alias("tr"), part("t", False).alias("ti"),
                part("n", True).alias("nr"), part("n", False).alias("ni"),
            )
            piv.persist()
            hr, hi = F.col("hr"), F.col("hi")
            rr, ri = F.col("rr"), F.col("ri")
            tr, ti = F.col("tr"), F.col("ti")
            nr, ni = F.col("nr"), F.col("ni")
            psi = lambda er, ei: (  # noqa: E731 — Re⟨h, r, conj(e)⟩
                hr * rr * er + hi * rr * ei + hr * ri * ei - hi * ri * er
            )
            viol = (
                piv.groupBy("fid")
                .agg(
                    F.sum(psi(tr, ti)).alias("psip"),
                    F.sum(psi(nr, ni)).alias("psin"),
                )
                .where(
                    F.lit(margin_int) - F.col("psip") + F.col("psin") > 0
                )
                .select("fid")
            )
            # gradient terms per (fact, role-component, component index m),
            # 1e-8 units; map keys encode role:part and resolve to the
            # long-layout slot j = m (+dim for imaginary)
            contrib = (
                piv.join(viol, "fid")
                .select(
                    "fid",
                    "m",
                    F.explode(
                        F.create_map(
                            F.lit("h:r"), rr * (nr - tr) + ri * (ni - ti),
                            F.lit("h:i"), rr * (ni - ti) - ri * (nr - tr),
                            F.lit("r:r"), hr * (nr - tr) + hi * (ni - ti),
                            F.lit("r:i"), hr * (ni - ti) - hi * (nr - tr),
                            F.lit("t:r"), -(hr * rr - hi * ri),
                            F.lit("t:i"), -(hi * rr + hr * ri),
                            F.lit("n:r"), hr * rr - hi * ri,
                            F.lit("n:i"), hi * rr + hr * ri,
                        )
                    ).alias("rc", "g_term"),
                )
                .select(
                    "fid",
                    F.substring("rc", 1, 1).alias("role"),
                    F.when(F.substring("rc", 3, 1) == "i",
                           F.col("m") + dim).otherwise(F.col("m")).alias("j"),
                    "g_term",
                )
                .join(roles, ["fid", "role"])
            )

            ent_emb, rel_emb = _rotate_params(
                cache, ent_emb, rel_emb, contrib, n_facts, lr, 1e-8, piv
            )
    finally:
        roles.unpersist()
    return {
        "ent_emb": ent_emb,
        "rel_emb": rel_emb,
        "n_entities": n_ent,
        "n_relations": n_rel,
        "n_facts": n_facts,
    }


def link_prediction_ranks(
    facts: DataFrame,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    test_mod: int = 5,
    salt: str = "transe",
) -> DataFrame:
    """Filtered link-prediction ranks (Bordes et al. 2013 protocol) for
    the deterministic test split ``hash(fid) mod test_mod == 0``: for
    each test fact, the true tail's 1-based rank among all candidate
    entities by ``d = Σ_j (h_j + r_j − e_j)²`` computed in exact integer
    1e-12 units (fixed-point, see module docstring), candidates that
    form ANOTHER true fact excluded (filtered), ties broken by entity id
    so the rank is deterministic.  Output per test fact:
    ``(s, p, o, rank, inv_rank, hit10)``.

    Scale shape: candidate scoring joins the test expansion against the
    entity table on the DIMENSION key — an outer product by nature
    (every test fact scores every entity); exhaustive eval is therefore
    run on the hash-sampled test split, never the full corpus, and the
    join stays an equi-join Catalyst can broadcast when the entity side
    fits.  The rank aggregation and the filter join are fact-keyed.
    """
    test = facts.where(is_test_fact(test_mod, salt)).select(
        "s", "p", "o", fid_col().alias("fid")
    )
    micro = F.round(F.col("w") * F.lit(1e6)).cast("long")
    hr = (
        test.join(
            ent_emb.select(
                F.col("id").alias("s"), "j", micro.alias("_hi")
            ),
            "s",
        )
        .join(
            rel_emb.select(
                F.col("id").alias("p"), "j", micro.alias("_ri")
            ),
            ["p", "j"],
        )
        .select(
            "fid", "s", "p", "o", "j",
            (F.col("_hi") + F.col("_ri")).alias("_hri"),
        )
    )
    # distances in exact integer 1e-12 units (int64 sums are order-proof,
    # so rank comparisons below are exact — no float tie ambiguity at all)
    cand = (
        hr.join(
            ent_emb.select(F.col("id").alias("e"), "j", micro.alias("_wi")),
            "j",
        )
        .groupBy("fid", "s", "p", "o", "e")
        .agg(
            F.sum(
                (F.col("_hri") - F.col("_wi"))
                * (F.col("_hri") - F.col("_wi"))
            ).alias("d")
        )
    )
    known = facts.select(
        "s", "p", F.col("o").alias("e"), F.lit(True).alias("_known")
    )
    scored = cand.join(known, ["s", "p", "e"], "left").where(
        F.col("_known").isNull() | (F.col("e") == F.col("o"))
    )
    true_d = scored.where(F.col("e") == F.col("o")).select(
        "fid", F.col("d").alias("_dt")
    )
    better = (
        (F.col("d") < F.col("_dt"))
        | ((F.col("d") == F.col("_dt")) & (F.col("e") < F.col("o")))
    ) & (F.col("e") != F.col("o"))
    return (
        scored.join(true_d, "fid")
        .groupBy("fid", "s", "p", "o")
        .agg(
            (
                F.lit(1)
                + F.sum(F.when(better, 1).otherwise(0))
            ).cast("long").alias("rank")
        )
        .select(
            "s",
            "p",
            "o",
            "rank",
            F.round(F.lit(1.0) / F.col("rank"), 6).alias("inv_rank"),
            (F.col("rank") <= 10).alias("hit10"),
        )
    )


def _filtered_ranks_desc(facts: DataFrame, cand: DataFrame) -> DataFrame:
    """Shared filtered-protocol rank tail for the DESCENDING-score models
    (DistMult / ComplEx): drop known-true candidates other than the test
    tail, 1-based rank of the true tail by ``psi`` DESC with the
    deterministic entity-id tie-break, emit (s, p, o, rank, inv_rank,
    hit10).  ``cand`` carries one row per (fid, s, p, o, e) with the
    integer-exact score column ``psi``.  One implementation so the two
    models' MRRs stay comparable by construction."""
    known = facts.select(
        "s", "p", F.col("o").alias("e"), F.lit(True).alias("_known")
    )
    scored = cand.join(known, ["s", "p", "e"], "left").where(
        F.col("_known").isNull() | (F.col("e") == F.col("o"))
    )
    true_psi = scored.where(F.col("e") == F.col("o")).select(
        "fid", F.col("psi").alias("_pt")
    )
    better = (
        (F.col("psi") > F.col("_pt"))
        | ((F.col("psi") == F.col("_pt")) & (F.col("e") < F.col("o")))
    ) & (F.col("e") != F.col("o"))
    return (
        scored.join(true_psi, "fid")
        .groupBy("fid", "s", "p", "o")
        .agg(
            (
                F.lit(1)
                + F.sum(F.when(better, 1).otherwise(0))
            ).cast("long").alias("rank")
        )
        .select(
            "s",
            "p",
            "o",
            "rank",
            F.round(F.lit(1.0) / F.col("rank"), 6).alias("inv_rank"),
            (F.col("rank") <= 10).alias("hit10"),
        )
    )


def distmult_prediction_ranks(
    facts: DataFrame,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    test_mod: int = 5,
    salt: str = "transe",
) -> DataFrame:
    """Filtered link-prediction ranks under the DistMult score: the true
    tail's 1-based rank among all candidates by ψ = Σ_j h_j·r_j·e_j
    DESCENDING (higher score = better), computed in exact integer 1e-12
    units over the 1e-4-quantized embeddings (train_distmult's contract),
    filtered protocol and deterministic entity-id tie-break as in
    :func:`link_prediction_ranks`.  ``salt`` names the SPLIT (default:
    the shared 'transe' holdout, so the two models rank the same test
    facts and their MRRs compare)."""
    test = facts.where(is_test_fact(test_mod, salt)).select(
        "s", "p", "o", fid_col().alias("fid")
    )
    q4 = F.round(F.col("w") * F.lit(1e4)).cast("long")
    hr = (
        test.join(
            ent_emb.select(F.col("id").alias("s"), "j", q4.alias("_hi")),
            "s",
        )
        .join(
            rel_emb.select(F.col("id").alias("p"), "j", q4.alias("_ri")),
            ["p", "j"],
        )
        .select(
            "fid", "s", "p", "o", "j",
            (F.col("_hi") * F.col("_ri")).alias("_hri"),  # 1e-8 units
        )
    )
    cand = (
        hr.join(
            ent_emb.select(F.col("id").alias("e"), "j", q4.alias("_wi")),
            "j",
        )
        .groupBy("fid", "s", "p", "o", "e")
        .agg(F.sum(F.col("_hri") * F.col("_wi")).alias("psi"))  # 1e-12
    )
    return _filtered_ranks_desc(facts, cand)


def complex_prediction_ranks(
    facts: DataFrame,
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    dim: int = 16,
    test_mod: int = 5,
    salt: str = "transe",
) -> DataFrame:
    """Filtered link-prediction ranks under the ComplEx score
    ψ = Re⟨h, r, conj(e)⟩ DESCENDING — same filtered protocol, split,
    and id tie-break as the other two models, so all three MRRs compare
    on identical test facts.

    The candidate join stays the DistMult shape by factoring the score:
    ψ = Σ_m er·(hr·rr − hi·ri) + ei·(hi·rr + hr·ri) — so the per-fact
    (h, r) pivot emits ONE coefficient per long-layout slot ``j``
    (``u = hr·rr − hi·ri`` at ``j = m``, ``v = hi·rr + hr·ri`` at
    ``j = m + dim``, 1e-8 units) and candidates join on ``j`` exactly as
    in :func:`distmult_prediction_ranks` — coefficients ≤ ~1.3e10, per-j
    products ≤ ~1e15, 2·dim-summed ≤ ~3.3e16: inside int64."""
    test = facts.where(is_test_fact(test_mod, salt)).select(
        "s", "p", "o", fid_col().alias("fid")
    )
    q4 = F.round(F.col("w") * F.lit(1e4)).cast("long")
    re_ = F.col("j") < dim
    piv = (
        test.join(
            ent_emb.select(F.col("id").alias("s"), "j", q4.alias("_h")),
            "s",
        )
        .join(
            rel_emb.select(F.col("id").alias("p"), "j", q4.alias("_r")),
            ["p", "j"],
        )
        .groupBy(
            "fid", "s", "p", "o",
            F.pmod(F.col("j"), F.lit(int(dim))).alias("m"),
        )
        .agg(
            F.max(F.when(re_, F.col("_h"))).alias("hr"),
            F.max(F.when(~re_, F.col("_h"))).alias("hi"),
            F.max(F.when(re_, F.col("_r"))).alias("rr"),
            F.max(F.when(~re_, F.col("_r"))).alias("ri"),
        )
    )
    u = F.col("hr") * F.col("rr") - F.col("hi") * F.col("ri")
    v = F.col("hi") * F.col("rr") + F.col("hr") * F.col("ri")
    coef = piv.select(
        "fid", "s", "p", "o", F.col("m").alias("j"), u.alias("_c")
    ).unionByName(
        piv.select(
            "fid", "s", "p", "o",
            (F.col("m") + dim).alias("j"), v.alias("_c"),
        )
    )
    cand = (
        coef.join(
            ent_emb.select(F.col("id").alias("e"), "j", q4.alias("_wi")),
            "j",
        )
        .groupBy("fid", "s", "p", "o", "e")
        .agg(F.sum(F.col("_c") * F.col("_wi")).alias("psi"))  # 1e-12
    )
    return _filtered_ranks_desc(facts, cand)


def entity_neighbors(
    ent_emb: DataFrame,
    query_ids: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-``k`` nearest entities in trained embedding space for each
    query entity — the retrieval use of a KG-completion model ("which
    entities does the model place near X?"), joining the KG-embedding
    family with the similarity-search family.

    ``ent_emb`` is the long-format ``(id, j, w)`` parameter table from
    :func:`train_transe` / :func:`train_distmult`; ``query_ids`` is a
    one-column DataFrame ``(entity)`` naming the entities to expand.
    Distances are exact-integer squared L2 over round-6 parameters
    (``d = Σ_j (qi_j − wi_j)²`` in 1e-12 units — the module's int64
    fixed-point contract), so rank comparisons have no float tie
    ambiguity; ties break by neighbor id ascending, self is excluded.
    Output: ``(entity, neighbor, rank, d_sq)`` with ``d_sq`` the exact
    integer distance.  TransE entities are unit-normalized, so this
    L2 ranking equals the cosine ranking.

    Scale shape: the query set is broadcast and the scoring join is
    queries × entities on the dimension key — LINEAR in the entity
    table, the declared-exact brute-force baseline shape
    (operators/similarity.topk_bruteforce).  Exhaustive expansion of
    EVERY entity would be all-pairs; at corpus scale route through the
    banded/celled ANN family (operators/similarity) instead — this
    operator is for graph-sized query sets (hot entities, a user's
    watchlist).
    """
    from pyspark.sql import Window

    micro = F.round(F.col("w") * F.lit(1e6)).cast("long")
    q = query_ids.select(F.col(query_ids.columns[0]).alias("entity"))
    qemb = F.broadcast(
        q.join(
            ent_emb.select(
                F.col("id").alias("entity"), "j", micro.alias("_qi")
            ),
            "entity",
        )
    )
    d = (
        qemb.join(
            ent_emb.select(
                F.col("id").alias("neighbor"), "j", micro.alias("_wi")
            ),
            "j",
        )
        .where(F.col("neighbor") != F.col("entity"))
        .groupBy("entity", "neighbor")
        .agg(
            F.sum(
                (F.col("_qi") - F.col("_wi"))
                * (F.col("_qi") - F.col("_wi"))
            ).alias("d_sq")
        )
    )
    w = Window.partitionBy("entity").orderBy(
        F.asc("d_sq"), F.asc("neighbor")
    )
    return (
        d.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(k))
        .select("entity", "neighbor", "rank", "d_sq")
    )


# ---------------------------------------------------------------------------
# sequential replica (shared by sources/oracle_mat.transe_aux and the tests)


def _md5_bucket(key: str, salt: str) -> int:
    """Python replica of sampling.hash_bucket: first 8 md5 hex chars of
    ``key + ':' + salt`` as an integer in [0, 2^32)."""
    return int(
        hashlib.md5(f"{key}:{salt}".encode()).hexdigest()[:8], 16
    )


def _round_half_up(a: "np.ndarray", ndigits: int) -> "np.ndarray":
    """Exact replica of Spark's ``F.round`` on doubles.  Spark's Round
    expression goes through Scala ``BigDecimal(double)`` =
    ``java.math.BigDecimal.valueOf`` = ``Double.toString`` — i.e. it
    rounds the SHORTEST round-trip decimal representation (HALF_UP),
    not the exact binary value.  Python's ``repr(float)`` is the same
    shortest representation, so ``Decimal(repr(x))`` reproduces the JVM
    digits exactly.  Neither ``np.round`` (scaled half-even) nor
    ``Decimal(x)`` (exact binary value) matches: each flips knife-edge
    values whose exact binary sits on the other side of a decimal
    midpoint than their shortest repr — ~4 parameters per sf0.01
    training run in both failed attempts."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-int(ndigits))
    arr = np.asarray(a, dtype="float64")
    flat = arr.ravel()
    out = np.fromiter(
        (
            float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))
            for x in flat.tolist()
        ),
        dtype="float64",
        count=flat.size,
    )
    return out.reshape(arr.shape)


def _np_fact_index(facts_pdf: pd.DataFrame, salt: str) -> tuple:
    """Shared prologue of the three numpy replicas: dedup the fact frame,
    order entities by ``(md5 bucket, id)`` (shuffle_deterministic's
    order), build the id maps and the deterministic corrupted-tail
    indices — ONE implementation so the split / negative-sampling
    conventions cannot drift between models.  Returns
    ``(ents, rels, s_i, p_i, o_i, t2_i)``."""
    facts_pdf = facts_pdf[["s", "p", "o"]].drop_duplicates()
    ents = sorted(set(facts_pdf["s"]) | set(facts_pdf["o"]))
    ents = sorted(ents, key=lambda e: (_md5_bucket(e, salt + "-idx"), e))
    e_of = {e: i for i, e in enumerate(ents)}
    rels = sorted(set(facts_pdf["p"]))
    r_of = {r: i for i, r in enumerate(rels)}
    n_ent = len(ents)
    n_facts = len(facts_pdf)
    if n_facts == 0:
        raise ValueError("cannot train on an empty fact table")
    s_i = facts_pdf["s"].map(e_of).to_numpy()
    o_i = facts_pdf["o"].map(e_of).to_numpy()
    p_i = facts_pdf["p"].map(r_of).to_numpy()
    t2_i = np.empty(n_facts, dtype="int64")
    for k, (s, p, o) in enumerate(
        facts_pdf[["s", "p", "o"]].itertuples(index=False)
    ):
        raw = _md5_bucket(f"{s}{SEP}{p}{SEP}{o}", salt + "-neg") % n_ent
        t2_i[k] = (raw + 1) % n_ent if raw == e_of[o] else raw
    return ents, rels, s_i, p_i, o_i, t2_i


def _np_init(ids, width: int, init_scale: float, sub_salt: str):
    """init_embeddings replica: md5-uniform in ±init_scale, round-6."""
    w = np.empty((len(ids), width), dtype="float64")
    for i, ident in enumerate(ids):
        for j in range(width):
            u = _md5_bucket(f"{ident}#{j}", sub_salt)
            w[i, j] = (u / float(2**32) * 2.0 - 1.0) * init_scale
    return _round_half_up(w, 6)


def _np_micro(w):
    """Exact integer count of 1e-6 units of a round-6 parameter
    (integer-adjacent, so ``rint`` is safe)."""
    return np.rint(w * 1e6).astype("int64")


def _np_quant4(w):
    """The 1e-4-unit quantized view used for DistMult/ComplEx scores and
    gradients — part of the algorithm spec (train_distmult contract).
    Unlike :func:`_np_micro` (integer-adjacent, rint-safe), ``w·1e4``
    hits REAL rounding: replicate Spark's ``F.round`` (shortest-repr
    HALF_UP) exactly, ties included."""
    return _round_half_up(w * 1e4, 0).astype("int64")


def _np_normalize(w):
    """normalize_unit replica: unit-norm over the micro view, round-6."""
    n2 = (_np_micro(w) ** 2).sum(axis=1).astype("float64") * 1e-12
    return _round_half_up(
        w / np.sqrt(np.maximum(n2, 1e-12))[:, None], 6
    )


def _np_sgd_step(w, g, unit: float, lr: float, n_facts: int):
    """:func:`_sgd_step` replica: ``w ← round(w − lr·gsum·unit/n_facts,
    6)`` — the one float conversion of an exact integer gradient sum."""
    return _round_half_up(
        w - lr * (g.astype("float64") * float(unit) / n_facts), 6
    )


def _np_emit(ents, rels, we, wr, width: int) -> pd.DataFrame:
    """Long-format ``(kind, id, j, w)`` parameter table the oracles read."""
    rows = []
    for i, e in enumerate(ents):
        for j in range(width):
            rows.append(("ent", e, j, we[i, j]))
    for i, r in enumerate(rels):
        for j in range(width):
            rows.append(("rel", r, j, wr[i, j]))
    return pd.DataFrame(rows, columns=["kind", "id", "j", "w"])


def distmult_train_numpy(
    facts_pdf: pd.DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 0.1,
    margin: float = 1.0,
    salt: str = "distmult",
) -> pd.DataFrame:
    """Single-threaded numpy run of the train_distmult math contract —
    same init, same deterministic negatives, same 1e-4 quantization,
    int64 trilinear scores, margin test, gradient sums, round-6 updates,
    entity renorm.  Returns the long-format (kind, id, j, w) table the
    kg_distmult oracle reads."""
    ents, rels, s_i, p_i, o_i, t2_i = _np_fact_index(facts_pdf, salt)
    n_facts = len(s_i)
    init_scale = 6.0 / float(np.sqrt(dim))
    margin_int = int(round(float(margin) * 1e12))
    we = _np_normalize(_np_init(ents, dim, init_scale, salt + "-ent"))
    wr = _np_init(rels, dim, init_scale, salt + "-rel")
    for _ in range(int(n_iter)):
        assert np.abs(wr).max() < 8 and np.abs(we).max() < 8, (
            "parameter magnitude left the documented int64 headroom bound"
        )
        e4, r4 = _np_quant4(we), _np_quant4(wr)
        h = e4[s_i]  # (n_facts, dim), 1e-4 units
        r = r4[p_i]
        t = e4[o_i]
        n = e4[t2_i]
        psip = (h * r * t).sum(axis=1)  # int64, 1e-12 units — exact
        psin = (h * r * n).sum(axis=1)
        v = (margin_int - psip + psin) > 0
        ge = np.zeros((len(ents), dim), dtype="int64")
        gr = np.zeros((len(rels), dim), dtype="int64")
        np.add.at(ge, s_i[v], r[v] * (n[v] - t[v]))   # ∂h, 1e-8 units
        np.add.at(gr, p_i[v], h[v] * (n[v] - t[v]))   # ∂r
        np.add.at(ge, o_i[v], -h[v] * r[v])           # ∂t
        np.add.at(ge, t2_i[v], h[v] * r[v])           # ∂n
        we = _np_normalize(_np_sgd_step(we, ge, 1e-8, lr, n_facts))
        wr = _np_sgd_step(wr, gr, 1e-8, lr, n_facts)
    return _np_emit(ents, rels, we, wr, dim)


def complex_train_numpy(
    facts_pdf: pd.DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 0.1,
    margin: float = 1.0,
    salt: str = "complex",
) -> pd.DataFrame:
    """Single-threaded numpy run of the train_complex math contract —
    same init over the 2·dim long layout, same deterministic negatives,
    1e-4 quantization, int64 Re⟨h,r,conj(t)⟩ scores, margin test,
    gradient sums, round-6 updates, full-vector entity renorm.  Returns
    the long-format (kind, id, j, w) table the kg_complex oracle reads."""
    ents, rels, s_i, p_i, o_i, t2_i = _np_fact_index(facts_pdf, salt)
    n_ent = len(ents)
    n_facts = len(s_i)
    d2 = 2 * dim
    init_scale = 6.0 / float(np.sqrt(dim))
    margin_int = int(round(float(margin) * 1e12))
    we = _np_normalize(_np_init(ents, d2, init_scale, salt + "-ent"))
    wr = _np_init(rels, d2, init_scale, salt + "-rel")
    for _ in range(int(n_iter)):
        assert np.abs(wr).max() < 8 and np.abs(we).max() < 8, (
            "parameter magnitude left the documented int64 headroom bound"
        )
        e4, r4 = _np_quant4(we), _np_quant4(wr)
        h, r = e4[s_i], r4[p_i]
        t, n = e4[o_i], e4[t2_i]
        hr_, hi_ = h[:, :dim], h[:, dim:]
        rr_, ri_ = r[:, :dim], r[:, dim:]
        tr_, ti_ = t[:, :dim], t[:, dim:]
        nr_, ni_ = n[:, :dim], n[:, dim:]
        psip = (
            hr_ * rr_ * tr_ + hi_ * rr_ * ti_
            + hr_ * ri_ * ti_ - hi_ * ri_ * tr_
        ).sum(axis=1)
        psin = (
            hr_ * rr_ * nr_ + hi_ * rr_ * ni_
            + hr_ * ri_ * ni_ - hi_ * ri_ * nr_
        ).sum(axis=1)
        v = (margin_int - psip + psin) > 0
        dr, di = nr_[v] - tr_[v], ni_[v] - ti_[v]  # (nv, dim), 1e-4 units
        g_h = np.concatenate(  # ∂hr | ∂hi, 1e-8 units
            [rr_[v] * dr + ri_[v] * di, rr_[v] * di - ri_[v] * dr], axis=1
        )
        g_r = np.concatenate(
            [hr_[v] * dr + hi_[v] * di, hr_[v] * di - hi_[v] * dr], axis=1
        )
        ur = hr_[v] * rr_[v] - hi_[v] * ri_[v]
        ui = hi_[v] * rr_[v] + hr_[v] * ri_[v]
        g_t = np.concatenate([-ur, -ui], axis=1)
        g_n = np.concatenate([ur, ui], axis=1)
        ge = np.zeros((n_ent, d2), dtype="int64")
        gr = np.zeros((len(rels), d2), dtype="int64")
        np.add.at(ge, s_i[v], g_h)
        np.add.at(gr, p_i[v], g_r)
        np.add.at(ge, o_i[v], g_t)
        np.add.at(ge, t2_i[v], g_n)
        we = _np_normalize(_np_sgd_step(we, ge, 1e-8, lr, n_facts))
        wr = _np_sgd_step(wr, gr, 1e-8, lr, n_facts)
    return _np_emit(ents, rels, we, wr, d2)


def transe_train_numpy(
    facts_pdf: pd.DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 0.1,
    margin: float = 1.0,
    salt: str = "transe",
) -> pd.DataFrame:
    """Single-threaded numpy run of the train_transe math contract over a
    pandas fact frame with columns (s, p, o).  Returns the long-format
    parameter table (kind, id, j, w) the kg_transe oracle reads — 'ent'
    rows unit-normalized, all values round-6."""
    ents, rels, s_i, p_i, o_i, t2_i = _np_fact_index(facts_pdf, salt)
    n_facts = len(s_i)
    init_scale = 6.0 / float(np.sqrt(dim))
    margin_int = int(round(float(margin) * 1e12))
    we = _np_normalize(_np_init(ents, dim, init_scale, salt + "-ent"))
    wr = _np_init(rels, dim, init_scale, salt + "-rel")
    for _ in range(int(n_iter)):
        wei, wri = _np_micro(we), _np_micro(wr)
        dp_j = wei[s_i] + wri[p_i] - wei[o_i]  # int64, 1e-6 units
        dn_j = wei[s_i] + wri[p_i] - wei[t2_i]
        dpi = (dp_j * dp_j).sum(axis=1)  # int64, 1e-12 units — exact
        dni = (dn_j * dn_j).sum(axis=1)
        v = (margin_int + dpi - dni) > 0
        ge = np.zeros((len(ents), dim), dtype="int64")
        gr = np.zeros((len(rels), dim), dtype="int64")
        np.add.at(ge, s_i[v], 2 * (dp_j[v] - dn_j[v]))
        np.add.at(gr, p_i[v], 2 * (dp_j[v] - dn_j[v]))
        np.add.at(ge, o_i[v], -2 * dp_j[v])
        np.add.at(ge, t2_i[v], 2 * dn_j[v])
        we = _np_normalize(_np_sgd_step(we, ge, 1e-6, lr, n_facts))
        wr = _np_sgd_step(wr, gr, 1e-6, lr, n_facts)
    return _np_emit(ents, rels, we, wr, dim)
