"""CLI entry point — the analog of the reference's ``python main.py
config.ini`` lifecycle (SURVEY.md §3.1-3.2).

The reference parses an INI, slices a static stage list via
``partial_execution``/``start_step``/``end_step`` (``main.py:77-99``),
hand-schedules batch files over a ``multiprocessing.Pool`` and resumes by
re-reading a batch-group manifest.  Here:

* config          → argparse (+ optional INI via --config for parity)
* plan selection  → --mode auto|fused|staged-joinlink|checkpointed
                    ("staged" is an older spelling of "fused");
                    checkpointed resumes from per-file-group manifests
                    (plans/manifests.py, --group-size files per group) —
                    the strictly-stronger replacement for the reference's
                    partial execution: a rerun skips every finished group
* physical split  → Spark scheduling; --cpus/--shuffle-partitions knobs
* outputs         → native parquet tables + optional reference-format JSONL/
                    human/types files (operators/sinks.py)

Example:
    python -m relationextractionpipeline_spark \
        --scale small --out /tmp/kg_out --mode checkpointed \
        --checkpoint-dir /tmp/kg_ck --group-size 8 --graph --reference-formats
"""

from __future__ import annotations

import argparse
import configparser
import json
import os
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser(prog="relationextractionpipeline_spark")
    p.add_argument("--config", help="optional INI file; CLI flags win")
    p.add_argument("--transcripts", help="input transcripts parquet (dir or file)")
    p.add_argument("--entity-kb", help="entity_kb parquet")
    p.add_argument("--figer-map", help="figer_map parquet")
    p.add_argument("--scale", help="generate/use synthetic scale instead "
                                   "(tiny|small|bench|scaling)")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--mode", default="fused",
                   choices=["auto", "fused", "staged", "staged-joinlink",
                            "checkpointed"],
                   help="'auto' probes the KB size and picks fused "
                        "(dict-broadcast linking) vs staged-joinlink "
                        "(relational linking) automatically; 'staged' is "
                        "the same path as 'fused'")
    p.add_argument("--checkpoint-dir",
                   help="manifest dir (mode=checkpointed)")
    p.add_argument("--group-size", type=int, default=8,
                   help="input files per resumable group (mode=checkpointed)")
    p.add_argument("--nel-mode", default="merged",
                   choices=["merged", "ner_only"],
                   help="mention detection: merged (NER+common nouns, the "
                        "main path) or ner_only (ner_nel.py alternative: "
                        "NEs only, adjacent spans fused)")
    p.add_argument("--cpus", type=int, default=os.cpu_count())
    p.add_argument("--master", default=None)
    p.add_argument("--table-format", default="parquet",
                   choices=["parquet", "snapshot"],
                   help="graph/analytics table store: plain parquet dirs, "
                        "or the snapshot format (versioned manifests, "
                        "atomic commits, time travel — sources/snapshots)")
    p.add_argument("--graph", action="store_true",
                   help="also canonicalize + write entities/edges tables")
    p.add_argument("--analytics", action="store_true",
                   help="with --graph (implied): also write pagerank / "
                        "communities / kcore_2 / hits analytics tables")
    p.add_argument("--rdf", action="store_true",
                   help="with --graph (implied): export the canonical graph "
                        "as RDF N-Triples under <out>/ntriples/")
    p.add_argument("--reference-formats", action="store_true",
                   help="also write S12 JSONL / S13 human / S14 types files")
    args = p.parse_args(argv)
    if args.analytics or args.rdf:
        args.graph = True
    if args.config:
        ini = configparser.ConfigParser()
        ini.read(args.config)
        g = ini["general"] if "general" in ini else {}
        for k in ("transcripts", "entity_kb", "figer_map", "out"):
            if getattr(args, k.replace("-", "_"), None) is None and k in g:
                setattr(args, k.replace("-", "_"), g[k])
    return args


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    from relationextractionpipeline_spark.session import get_spark
    from relationextractionpipeline_spark.sources import testgen
    from relationextractionpipeline_spark.plans import manifests, pipeline
    from relationextractionpipeline_spark.operators import sinks

    if args.scale:
        if args.scale not in testgen.SCALES:
            print(
                f"unknown --scale {args.scale!r}; choose one of "
                f"{sorted(testgen.SCALES)}",
                file=sys.stderr,
            )
            return 2
        paths = testgen.materialize(args.scale)
    else:
        if not (args.transcripts and args.entity_kb and args.figer_map):
            print("need --scale or all of --transcripts/--entity-kb/--figer-map",
                  file=sys.stderr)
            return 2
        paths = {
            "transcripts": args.transcripts,
            "entity_kb": args.entity_kb,
            "figer_map": args.figer_map,
        }
    from relationextractionpipeline_spark.session import (
        dir_bytes,
        input_split_conf,
    )

    master = args.master or f"local[{args.cpus}]"
    spark = get_spark(
        master=master,
        app_name="rex-spark-cli",
        shuffle_partitions=args.cpus,
        extra_conf=input_split_conf(
            dir_bytes(paths["transcripts"]), args.cpus
        ),
    )
    t0 = time.time()
    os.makedirs(args.out, exist_ok=True)
    if args.mode == "checkpointed":
        ck = args.checkpoint_dir or os.path.join(args.out, "_checkpoints")
        run = manifests.run_checkpointed(
            spark, paths, ck, graph=args.graph, group_size=args.group_size,
            nel_mode=args.nel_mode,
        )
    else:
        run = pipeline.run_pipeline(
            spark, paths, mode=args.mode, nel_mode=args.nel_mode
        )
    triples = run["triples"]

    triples.write.mode("overwrite").parquet(os.path.join(args.out, "triples"))
    n_triples = spark.read.parquet(os.path.join(args.out, "triples")).count()

    if args.graph:
        if args.table_format == "snapshot":
            from relationextractionpipeline_spark.sources.snapshots import (
                SnapshotTableIO as TableIO,
            )
        else:
            from relationextractionpipeline_spark.sources.tableio import TableIO

        if "entities" in run:
            # checkpointed mode already materialized the graph stages under
            # manifest control — reuse them (resume-safe)
            g = {k: run[k] for k in ("entities", "edges", "predicates")}
        else:
            g = pipeline.materialize_graph(run)
        io = TableIO(spark, args.out)
        io.write(g["entities"], "entities")
        # bucket edges by canonical subject so downstream per-entity joins
        # and neighborhood queries co-locate (Iceberg bucket(n, subj_id)
        # transform; parquet partition dirs in the shim)
        io.write(g["edges"], "edges", bucket_by="subj_id", n_buckets=16)
        io.write(g["predicates"], "predicates")

        if args.analytics:
            from pyspark.sql import functions as F

            from relationextractionpipeline_spark.operators import graphalgs

            ed = g["edges"].select(
                F.col("subj_canonical").alias("src"),
                F.col("obj_canonical").alias("dst"),
            )
            io.write(
                graphalgs.pagerank(ed).select(
                    F.col("node").alias("canonical_id"), "rank"
                ),
                "pagerank",
            )
            io.write(
                graphalgs.label_propagation(ed).select(
                    F.col("node").alias("canonical_id"), "community"
                ),
                "communities",
            )
            io.write(
                graphalgs.k_core(ed, k=2).select(
                    F.col("node").alias("canonical_id"), "core_degree"
                ),
                "kcore_2",
            )
            io.write(
                graphalgs.hits(ed).select(
                    F.col("node").alias("canonical_id"), "hub", "authority"
                ),
                "hits",
            )
            # temporal fact tables (operators/ontology.py): observation
            # intervals + object-change conflict profiles
            from relationextractionpipeline_spark.operators import ontology

            turns = spark.read.parquet(paths["transcripts"])
            io.write(
                ontology.fact_intervals(g["edges"], turns), "fact_intervals"
            )
            io.write(
                ontology.fact_conflicts(g["edges"], turns), "fact_conflicts"
            )

        if args.rdf:
            # orderBy range-partitions on the line, so concatenating part
            # files in filename order yields one deterministically-sorted
            # N-Triples document
            sinks.ntriples(g["edges"]).orderBy("line").write.mode(
                "overwrite"
            ).text(os.path.join(args.out, "ntriples"))

    if args.reference_formats:
        # checkpointed runs carry no sentence table: derive it lazily
        parsed = run.get("parsed")
        if parsed is None:
            parsed = pipeline.parse_turns(spark.read.parquet(paths["transcripts"]))
        # orderBy before write: the sort range-partitions on the key, so
        # each part file is a contiguous ordered range — concatenating parts
        # in filename order reproduces the reference file's bytes exactly
        # (the per-row/per-block byte parity itself is pytest-gated)
        sinks.reference_jsonl(parsed, triples).orderBy(
            "conv_id", "turn_idx", "sent_idx"
        ).select("line").write.mode("overwrite").text(
            os.path.join(args.out, "binary_relations_jsonl")
        )
        # write.text appends one '\n' per row; blocks already end with
        # the reference's blank line, so strip one trailing newline
        from pyspark.sql import functions as F

        sinks.human_readable(parsed, triples).orderBy(
            "conv_id", "line_id"
        ).select(
            F.expr("substring(block, 1, length(block) - 1)").alias("block")
        ).write.mode("overwrite").text(
            os.path.join(args.out, "binary_relations_human")
        )
        sinks.types_list(triples).write.mode("overwrite").text(
            os.path.join(args.out, "types")
        )

    summary = {
        "mode": args.mode,
        "master": master,
        "triples": n_triples,
        "wall_sec": round(time.time() - t0, 2),
        "out": args.out,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
