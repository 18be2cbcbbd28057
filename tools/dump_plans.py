"""Capture the physical plans of the engine's key queries into PLANS.md —
the .explain("formatted") evidence that the plans we designed for are the
plans Catalyst produces (pushdown, broadcast, no shuffles on the extract
path).  Re-run after plan-affecting changes."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from relationextractionpipeline_spark.session import get_spark  # noqa: E402
from relationextractionpipeline_spark.sources import testgen  # noqa: E402
from relationextractionpipeline_spark.plans import pipeline  # noqa: E402
from relationextractionpipeline_spark.operators import fused, link  # noqa: E402

SF = "/root/testdata/sf0.001"


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _ivf_index_section(spark):
    """Build a materialized IVF index in /tmp and return the index-search
    DataFrame whose plan shows the static cell partition filter."""
    import tempfile

    from relationextractionpipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    idx = tempfile.mkdtemp(prefix="rex_plans_ivf_idx_")
    similarity.build_ivf_index(emb, idx, n_clusters=8)
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk_from_index(emb, qs, idx, k=5, nprobe=2)


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    paths = testgen.materialize("tiny")
    run = pipeline.run_pipeline(spark, paths, mode="fused")
    joinlink = pipeline.run_pipeline(spark, paths, mode="staged-joinlink")
    transcripts, entity_kb, figer_map = pipeline.load_inputs(spark, paths)
    mention_rows = fused.mention_rows_fused(
        transcripts, pipeline.build_gazetteer_broadcast(spark, entity_kb)
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pushdown = docs.where(F.col("n_chars") > 100).select("doc_id", "lang")

    sections = [
        ("Fused extract path (turns → triples) — must contain no Exchange",
         run["triples"]),
        ("Fused links kernel (turns → linked mention rows) — must contain "
         "no Exchange", run["links"]),
        ("Canonical edges (materialize_graph) — dimension-sized key tables "
         "cluster on the driver, so the entity key map and the predicate map "
         "join in as LocalTableScan (no LSH or connected-components stages)",
         pipeline.materialize_graph(run)["edges"]),
        ("Joinlink extract path (the one remaining UDF chain) — each Arrow "
         "UDF stage appears EXACTLY once (the asNondeterministic fences stop "
         "InferFiltersFromGenerate from cloning the chain into inferred "
         "filters)", joinlink["triples"]),
        ("Conversation assembly (W2) — exactly one hash-partition Exchange, "
         "partial+final aggregate", run["assembled"]),
        ("Linker broadcast joins (J3) — BroadcastHashJoin, never SortMerge",
         link.link_mentions_broadcast_join(mention_rows, entity_kb, figer_map)),
        ("Parquet pushdown — PushedFilters + pruned ReadSchema", pushdown),
        ("Flagship top-20 predicates — partial HashAggregate before the "
         "Exchange, TakeOrderedAndProject (no full sort)",
         entrymod.entry(spark)),
        ("Grouped link scorer — FlatMapGroupsInPandas under "
         "hashpartitioning(conv_id): group size bounded by one conversation",
         __import__("relationextractionpipeline_spark.operators.link",
                    fromlist=["link"]).score_links_grouped(
             mention_rows,
             *[b for b in [pipeline.build_broadcasts(spark, entity_kb,
                                                     figer_map)][0][::2]],
         )),
        ("IVF-PQ + exact re-rank — cell equi-join, broadcast LUT join, "
         "windowed shortlist, one narrow join back to full vectors",
         __import__("relationextractionpipeline_spark.operators.similarity",
                    fromlist=["similarity"]).ivf_pq_topk(
             spark.read.parquet(f"{SF}/embeddings.parquet").select(
                 "vec_id", "embedding"),
             spark.read.parquet(f"{SF}/embeddings.parquet").where(
                 F.col("vec_id") % 100 == 0).select(
                 F.col("vec_id").alias("query_id"), "embedding"),
             k=5)),
        ("Materialized IVF index search — probed cell ids pushed as a "
         "STATIC PartitionFilter on the cell-partitioned index scan (the "
         "partition prune IS the IVF prune); vectors join in candidate-bound "
         "AFTER the cell join",
         _ivf_index_section(spark)),
        ("Multi-table LSH top-k — (table_idx, bucket)-keyed candidate join, "
         "distinct pairs BEFORE the vector joins (cosine is candidate-bound, "
         "never L-times duplicated)",
         __import__("relationextractionpipeline_spark.operators.similarity",
                    fromlist=["similarity"]).lsh_multi_topk(
             spark.read.parquet(f"{SF}/embeddings.parquet").select(
                 "vec_id", "embedding"),
             spark.read.parquet(f"{SF}/embeddings.parquet").where(
                 F.col("vec_id") % 100 == 0).select(
                 F.col("vec_id").alias("query_id"), "embedding"),
             k=5)),
        ("Near-dup clustering tail — singleton assignment + size join over "
         "the CC fixpoint (the iterative rounds ran eagerly at construction; "
         "the plan reads the final checkpointed edge scan, lineage O(1))",
         __import__("relationextractionpipeline_spark.operators.dedup",
                    fromlist=["dedup"]).near_dup_clusters(
             docs.select("doc_id", "text"), jaccard_threshold=0.5)),
        ("Quantile thresholds — window rank + explode'd fraction targets, "
         "rank equi-join (no cross join, nothing driver-side)",
         __import__("relationextractionpipeline_spark.operators.quality",
                    fromlist=["quality"]).quantile_thresholds(
             docs.select("doc_id", "lang", F.col("n_chars").cast("double")
                         .alias("v")), "v", "lang")),
        ("As-of join — union-and-carry-forward: pushed filters on both "
         "scans, ONE hash Exchange on the key, window carry, no range join",
         entrymod.queries()["q_events_asof"](spark, SF)),
        ("Sequence packing — both branches read ONE checkpointed "
         "materialization of the range-bucketed (id, size) pairs; the "
         "offsets side is an n_partitions-row single-partition window "
         "broadcast back (the one place a global window is O(parallelism), "
         "not O(rows))",
         entrymod.queries()["q_pack_sequences"](spark, SF)),
        ("Token-window chunking — scan → project → generate, ZERO Exchange",
         entrymod.queries()["q_chunk_documents"](spark, SF)),
        ("Predicate type signatures — one hash Exchange on the "
         "(pred, type-pair) aggregate (dimension-sized after map-side "
         "combine), window rank downstream of it",
         __import__("relationextractionpipeline_spark.operators.ontology",
                    fromlist=["ontology"]).predicate_signatures(
             run["triples"],
             __import__(
                 "relationextractionpipeline_spark.operators.canonicalize",
                 fromlist=["canonicalize"],
             ).canonicalize_predicates(run["triples"]))),
        ("Temperature mixture sampling — derived rate table joins back as "
         "BroadcastHashJoin; the fact table never shuffles",
         __import__("relationextractionpipeline_spark.operators.sampling",
                    fromlist=["sampling"]).temperature_sample(
             docs.select("doc_id", "lang"), "doc_id", "lang")),
        ("Quality-classifier scoring — featurize → broadcast weight join → "
         "doc-keyed aggregate → left join back (zero-gram docs score "
         "sigmoid(bias)); the 100 TB sweep path, pure JVM",
         __import__("relationextractionpipeline_spark.operators.classifier",
                    fromlist=["classifier"]).score_quality(
             docs.select("doc_id", "text"),
             __import__("pandas").DataFrame(
                 {"bucket": range(16), "weight": [0.1] * 16}), 0.0)),
        ("DSIR importance weights — (doc, bucket) multiplicities map-side "
         "combined, dimension-sized ratio table broadcast back",
         __import__("relationextractionpipeline_spark.operators.sampling",
                    fromlist=["sampling"]).dsir_weights(
             docs.select("doc_id", "text", "lang"),
             F.col("lang") == "en", n_buckets=64)),
        ("Gopher rule battery — row-local native Columns, ZERO Exchange",
         __import__("relationextractionpipeline_spark.operators.quality",
                    fromlist=["quality"]).with_gopher_rules(
             docs.select("doc_id", "text"))),
        ("Link-prediction scoring (TransE eval) — candidate scoring is an "
         "equi-join on the dimension key (outer product by nature, run on "
         "the hash-sampled test split); exact int64 distances, fact-keyed "
         "rank aggregate, no CartesianProduct",
         __import__("relationextractionpipeline_spark.operators.kgembed",
                    fromlist=["kgembed"]).link_prediction_ranks(
             spark.createDataFrame(
                 [(f"e{i}", "r", f"e{(i + 1) % 6}") for i in range(6)],
                 "s string, p string, o string"),
             spark.createDataFrame(
                 [(f"e{i}", j, 0.1 * (i + j))
                  for i in range(6) for j in range(4)],
                 "id string, j int, w double"),
             spark.createDataFrame(
                 [("r", j, 0.05 * j) for j in range(4)],
                 "id string, j int, w double"),
             test_mod=1)),
        ("SFT pair extraction — ONE hash Exchange on conv_id feeds both the "
         "adjacency lead and the context frame (shared window spec → a "
         "single Window operator), everything else row-local",
         entrymod.queries()["q_sft_pairs"](spark, SF)),
        ("Hybrid retrieval (RRF) — both shortlists candidate-bounded before "
         "the full-outer fuse; corpus stats one aggregate row; top-k as "
         "TakeOrderedAndProject",
         entrymod.queries()["q_hybrid_search"](spark, SF)),
        ("KG verbalization — distinct on (subject, sentence) + one groupBy "
         "on the canonical subject, both map-side combined; rendering is "
         "native concat/regexp inside codegen",
         entrymod.queries()["kg_verbalize"](spark, SF)),
        ("HyperLogLog estimate — register table via ONE map-side-combined "
         "aggregate (≤256 rows shuffle per task), estimate from a single "
         "integer scalar",
         entrymod.queries()["q_distinct_hll"](spark, SF)),
        ("Histogram quantile sketch — bin-bounded cumsum window + "
         "constant-key broadcast probe join; the corpus touches only the "
         "128-bucket aggregate",
         entrymod.queries()["q_quantile_sketch"](spark, SF)),
        ("Incremental near-dup merge (assign table) — quotient-graph CC ran "
         "eagerly at construction; the plan reads the final checkpointed "
         "label scan, lineage O(1) — history never re-clusters",
         entrymod.queries()["q_dedup_clusters_incr"](spark, SF)),
        ("Metapath census — degree-product identity: two map-side-combined "
         "per-(mid, pred) aggregates, ONE equi-join on mid, final "
         "dimension-sized (pred1, pred2) aggregate; hubs contribute degree "
         "rows, never degree² path rows",
         __import__("relationextractionpipeline_spark.operators.graphalgs",
                    fromlist=["graphalgs"]).metapath_census(
             run["triples"].select(
                 F.col("subj").alias("s"), "pred",
                 F.col("obj").alias("o")).distinct())),
        ("Structural alignment candidates — feature-keyed self-join (the "
         "LSH bucket-join skeleton) over the persisted distinct "
         "(entity, feature) table; degree joins are aggregates of the SAME "
         "cached table, no CartesianProduct anywhere",
         __import__(
             "relationextractionpipeline_spark.operators.canonicalize",
             fromlist=["canonicalize"]).structural_align_candidates(
             run["triples"].select(
                 F.col("subj").alias("s"), F.col("pred").alias("p"),
                 F.col("obj").alias("o")))),
        ("Local clustering coefficient — degree-ordered wedge join "
         "(O(m^1.5) total, hub-skew-proof), left-semi triangle probe, "
         "degree left-join back; all shuffles keyed on entity ids",
         entrymod.queries()["kg_clustering_coeff"](spark, SF)),
        ("Random-walk corpus — rank-indexed adjacency (one window per "
         "source node), then each step is a degree join + ONE (node, index) "
         "equi-join: a walk row matches exactly one adjacency row, hub "
         "degree never multiplies walk rows",
         entrymod.queries()["kg_walks"](spark, SF)),
        ("GraphSAGE neighbor sampling — per-hop md5-ranked windows bound "
         "each node's sample to the fanout; hop expansion is equi-joins "
         "against the pre-sampled adjacency, frontier ≤ Π fanouts per seed",
         entrymod.queries()["kg_neighbor_sample"](spark, SF)),
        ("Type propagation (clamped-seed LPA) — per round: anti-join keeps "
         "labeled nodes out of the vote aggregate, label-keyed equi-join + "
         "map-side-combined counts, row_number argmax; additions "
         "checkpointed so lineage stays O(rounds)",
         entrymod.queries()["kg_type_propagate"](spark, SF)),
        ("Adamic-Adar candidates — wedge self-join keyed on the shared "
         "neighbor, LEFT ANTI vs the edge view, map-side-combined (a, b) "
         "aggregate; the 1/ln(deg) weight rides the wedge row from one "
         "degree join",
         entrymod.queries()["kg_adamic_adar"](spark, SF)),
        ("k-truss (final support pass) — degree-ordered wedge join kept "
         "as an inner join so each triangle re-keys into its three "
         "edges; per-edge support is a map-side-combined (a, b) "
         "aggregate over the checkpointed survivor set",
         entrymod.queries()["kg_truss"](spark, SF)),
        ("HyperBall (final radius) — per-round neighbor equi-join + "
         "map-side-combined (node, bucket) register MAX; state is <= 2^b "
         "rows per node regardless of graph size; estimates derive from "
         "one exact-integer scalar per (node, r)",
         entrymod.queries()["kg_hyperball"](spark, SF)),
        ("Weighted SSSP (converged state) — frontier Bellman-Ford: each "
         "round joins only the improved frontier to the weighted edge "
         "view, min-merges candidates, keeps strict improvements; state "
         "unions are checkpointed so lineage stays O(rounds)",
         entrymod.queries()["kg_sssp"](spark, SF)),
        ("Closeness from HyperBall balls — one window lag + one grouped "
         "integer sum over <= max_r+1 rows per node; the ball estimates "
         "arrive from the checkpointed hyperball rounds, so the tail is "
         "a single hashpartitioning Exchange on node",
         entrymod.queries()["kg_closeness"](spark, SF)),
        ("Distance profile / effective diameter — one groupBy(r) sum "
         "over the ball table then window math over <= max_r+1 rows; "
         "every accumulator an exact BIGINT",
         entrymod.queries()["kg_diameter"](spark, SF)),
        ("Degree assortativity — one degree aggregate + two degree "
         "equi-joins back onto the edge view + one global sum; exact "
         "integer accumulators, single round(.,6) division",
         entrymod.queries()["kg_assortativity"](spark, SF)),
        ("AMIE chain rules — per-bridge row_number fanout bounds the "
         "quadratic path join; distinct body pairs persist once, head "
         "join keys on the entity pair, denominators broadcast back",
         entrymod.queries()["kg_chain_rules"](spark, SF)),
        ("Rule-based KB completion — the shared fanout-sampled body "
         "enumeration, mined rules broadcast onto body pairs, one "
         "anti-join against the known-fact set, grouped best-score "
         "aggregate",
         entrymod.queries()["kg_rule_predictions"](spark, SF)),
        ("Functional-conflict resolution — evidence aggregate, broadcast "
         "semi-join on the functionality profile, one (pred, subj)-keyed "
         "argmax window; group size = per-subject object fan-out",
         entrymod.queries()["kg_fact_resolution"](spark, SF)),
    ]
    out = ["# PLANS — captured physical plans (tools/dump_plans.py)",
           "",
           "Assertions over these properties run in tests/test_plans.py;",
           "this file is the human-readable evidence.", ""]
    for title, df in sections:
        out.append(f"## {title}\n")
        out.append("```")
        out.append(fmt(df).rstrip())
        out.append("```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
