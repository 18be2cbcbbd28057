"""The KG-construction workloads, timed from outside the program.

Closed loop: one driver thread runs one job at a time on ``local[cores]``.
Every timed pass builds fresh broadcast dicts, so the per-worker sentence
memo (pinned to the dicts' identity, functions/turnproc.py) starts cold as
it does for a new job.  Workers are warmed before any timed pass: by three
fused passes over a corpus of a different seed (extract-mixed), or by the
cold partitioned run that builds the resume checkpoint (graph-resume).
"""

from __future__ import annotations

import itertools
import json
import os
import pickle
import random
import shutil
import statistics
import sys
import time
from typing import Dict, List, Optional, Tuple

import pandas as pd

from relationextractionpipeline_spark import session as rex_session
from relationextractionpipeline_spark.functions import (
    lexicon as lx,
    rules,
    turnproc,
)
from relationextractionpipeline_spark.operators import cache, canonicalize
from relationextractionpipeline_spark.plans import manifests, pipeline
from relationextractionpipeline_spark.sources.tableio import TableIO
from tests import oracle

from kgbench import checks, corpus, spans
from kgbench.procmem import PeakRss, tree_cpu_s

MEMO_RATE_TOL = 0.01  # allowed |later pass − first pass| memo hit-rate drift
RESUME_LOST_GROUPS = 2
# lose-and-rerun cycles per pass (resume_s is their median); a trace run
# makes three passes, so it reruns once per pass to stay well inside 180 s
RESUME_CYCLES = {"untraced": 3, "traced": 1}
REPLAY_TURNS = 1_000  # single-thread kernel replay sample
# The JVM's share of a fused pass falls over its first passes (JIT): 8.8,
# 4.3, 3.3, 2.6 CPU-s, then ~2-2.7.  Set-up makes three warm-up passes, so
# a run's median does not depend on how many timed passes the host's speed
# let it fit; at least three timed passes make the median one of them.
WARM_PASSES = 3
MIN_PASSES = {"extract-mixed": 3, "graph-resume": 1}


_T0 = time.time()


def log(msg: str) -> None:
    print(f"kgbench [{time.time() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _manifest(sdir: str, gi: int) -> Dict:
    with open(os.path.join(sdir, f"g{gi:05d}._manifest.json")) as f:
        return json.load(f)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int,
                 work_dir: str, run_dir: str, t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.run_dir = run_dir
        self.t_start = t_start
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.get_spark_s: Optional[float] = None
        self.broadcast_bytes = 0
        self.tracer = spans.Tracer(enabled=False)
        self.attempted = 0
        self.failed = 0
        self.memo_ok = True
        self._out_seq = 0

    # -- session + set-up -------------------------------------------------

    def _conf(self, event_log: Optional[str]) -> Dict[str, str]:
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # the heap is committed and touched at start-up, so the JVM's
            # share of peak_rss_mb does not depend on when G1 grows it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} "
                "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
            ),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def _start(self, event_log: Optional[str] = None) -> float:
        t0 = time.perf_counter()
        self.spark = rex_session.get_spark(
            master=f"local[{self.cores}]", app_name=f"kgbench-{self.workload}",
            shuffle_partitions=self.cores, extra_conf=self._conf(event_log),
        )
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.tracer = spans.Tracer(enabled=False, sc=self.sc)
        return time.perf_counter() - t0

    def _dims(self):
        return (
            self.spark.read.parquet(self.data["entity_kb"]),
            self.spark.read.parquet(self.data["figer_map"]),
        )

    def _split_conf(self, transcripts_dir: str) -> None:
        conf = rex_session.input_split_conf(
            rex_session.dir_bytes(transcripts_dir), self.cores
        )
        for k, v in conf.items():
            self.spark.conf.set(k, v)

    def _out(self, name: str) -> str:
        self._out_seq += 1
        return os.path.join(self.run_dir, "out", f"{name}-{self._out_seq}")

    def setup(self, trace: bool = False) -> float:
        """Session up, broadcasts built, Python workers warm; timed from
        process start, less the benchmark's own input generation.  With
        ``trace`` the Spark event log is on for the whole run."""
        self.event_log = os.path.join(self.run_dir, "eventlog") if trace else None
        self.resume_cycles = RESUME_CYCLES["traced" if trace else "untraced"]
        self.get_spark_s = self._start(self.event_log)
        log(f"session up in {self.get_spark_s:.2f}s")
        kb_df, fg_df = self._dims()
        bcs = pipeline.build_broadcasts(self.spark, kb_df, fg_df)
        log("broadcasts built")
        self.broadcast_bytes = sum(
            len(pickle.dumps(b.value, protocol=pickle.HIGHEST_PROTOCOL)) for b in bcs
        )
        if self.workload == "graph-resume":
            # the cold partitioned run starts the workers and builds the
            # checkpoint every pass's resume leg loses groups from
            self._prime()
        else:
            # full passes of the timed plan over a same-size corpus of
            # another seed: every core's Python worker starts and the JVM
            # compiles the pass's code, so timed passes differ only in data
            self._split_conf(self.warm["transcripts"])
            for i in range(WARM_PASSES):
                if i:  # fresh dicts, so the memo starts cold as in a timed pass
                    for b in bcs:
                        b.destroy()
                    bcs = pipeline.build_broadcasts(self.spark, kb_df, fg_df)
                pipeline.run_fused(
                    self.spark.read.parquet(self.warm["transcripts"]), *bcs
                ).write.mode("overwrite").parquet(self._out("warm"))
        for b in bcs:
            b.destroy()
        self._split_conf(self.data["transcripts"])
        return time.time() - self.t_start - self.gen_s

    @staticmethod
    def _paths(c: Dict) -> Dict[str, str]:
        return {k: c[k] for k in ("transcripts", "entity_kb", "figer_map")}

    # -- timed passes -----------------------------------------------------

    def _record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    @staticmethod
    def _pr_ok(p: float, r: float) -> bool:
        return p >= checks.PR_GATE and r >= checks.PR_GATE

    def extract_pass(self) -> Dict:
        t = self.tracer
        kb_df, fg_df = self._dims()
        out = self._out("triples")
        with t.span("pass") as root:
            bcs = pipeline.build_broadcasts(self.spark, kb_df, fg_df)
            stats = {k: self.sc.accumulator(0) for k in ("lookups", "hits", "evictions")}
            with PeakRss(self.jvm_pid) as mem:
                c0 = tree_cpu_s(self.jvm_pid)
                t0 = time.perf_counter()
                with t.span("fused.extract"):
                    pipeline.run_fused(
                        self.spark.read.parquet(self.data["transcripts"]), *bcs,
                        cache_stats=stats,
                    ).write.mode("overwrite").parquet(out)
                job_s = time.perf_counter() - t0
                job_cpu_s = tree_cpu_s(self.jvm_pid) - c0
        for b in bcs:
            b.destroy()
        got = pd.read_parquet(out, columns=corpus.TRIPLE_KEY)
        p, r = checks.precision_recall(got, self.ref)
        self._record(self._pr_ok(p, r))
        shutil.rmtree(out, ignore_errors=True)
        lookups = stats["lookups"].value
        return {
            "root": root, "job_s": job_s, "resume_s": job_s, "job_cpu_s": job_cpu_s,
            "resume_cpu_s": job_cpu_s,
            "peak_rss_mb": mem.peak_mb, "p": p, "r": r, "rows_out": len(got),
            "memo_lookups": lookups,
            "memo_hit_rate": stats["hits"].value / lookups if lookups else 0.0,
            "memo_evictions": stats["evictions"].value,
        }

    def _prime(self) -> None:
        """One cold ``run_checkpointed_partitioned``: the per-group
        checkpoint whose groups every pass then loses and reruns.  Its
        output is checked like a pass's."""
        self.ck = self._out("checkpoint")
        self.sdir = os.path.join(self.ck, "triples")
        cold = manifests.run_checkpointed_partitioned(
            self.spark, self._paths(self.data), self.ck
        )
        self.groups = sorted(
            e["group"] for e in cold["runner"].events if e["action"] == "computed"
        )
        self.man = {gi: _manifest(self.sdir, gi) for gi in self.groups}
        self.lost_sets = self._lost_sets(self.man)
        p, r = checks.precision_recall(self._group_triples(), self.ref)
        self._record(self._pr_ok(p, r))

    def _group_triples(self) -> pd.DataFrame:
        return checks.read_parquet_dirs(
            *(os.path.join(self.sdir, f"g{gi:05d}") for gi in self.groups)
        )

    def _resume(self) -> Tuple[List[float], List[float], List[Dict]]:
        """``resume_cycles`` times: lose some groups' manifests and outputs,
        as a kill would, and rerun; the checkpoint is whole again after."""
        t = self.tracer
        paths = self._paths(self.data)
        resumes, resume_cpu, cycles = [], [], []
        for lost in self.lost_sets:
            for gi in lost:
                os.remove(os.path.join(self.sdir, f"g{gi:05d}._manifest.json"))
                shutil.rmtree(os.path.join(self.sdir, f"g{gi:05d}"))
            c1 = tree_cpu_s(self.jvm_pid)
            t1 = time.perf_counter()
            with t.span("manifests.run_checkpointed_partitioned", phase="resume"):
                again = manifests.run_checkpointed_partitioned(self.spark, paths, self.ck)
            resumes.append(time.perf_counter() - t1)
            resume_cpu.append(tree_cpu_s(self.jvm_pid) - c1)
            ev = again["runner"].events
            cycles.append({
                "lost": list(lost),
                "computed": sorted(e["group"] for e in ev if e["action"] == "computed"),
                "resumed": sum(1 for e in ev if e["action"] == "resumed"),
            })
        return resumes, resume_cpu, cycles

    def _lost_sets(self, man: Dict[int, Dict]) -> List[Tuple[int, ...]]:
        """``resume_cycles`` sets of ``RESUME_LOST_GROUPS`` groups to lose.
        Groups are md5 buckets of the file paths, so their sizes vary; the
        sets whose file counts sum closest to the mean come first, so every
        rerun redoes about the same work whatever the bucketing gave.  Ties
        are broken by a seeded draw."""
        files = {gi: len(m["files"]) for gi, m in man.items()}
        want = RESUME_LOST_GROUPS * sum(files.values()) / len(files)
        sets = list(itertools.combinations(sorted(files), RESUME_LOST_GROUPS))
        random.Random(self.seed).shuffle(sets)
        sets.sort(key=lambda c: abs(sum(files[gi] for gi in c) - want))
        return sets[:self.resume_cycles]

    def _graph(self, data: Dict, wh: str) -> None:
        """Staged extraction, canonicalization and the three table writes
        into ``wh``."""
        t = self.tracer
        with t.span("pipeline.run_pipeline"):
            run = pipeline.run_pipeline(self.spark, self._paths(data), mode="staged")
        with t.span("pipeline.materialize_graph"):
            g = pipeline.materialize_graph(run)
        io = TableIO(self.spark, wh)
        for name in ("entities", "edges", "predicates"):
            with t.span("tableio.write", table=name):
                io.write(g[name], name)

    def graph_resume_pass(self) -> Dict:
        """The graph tail (staged extraction, canonicalization, table writes:
        job_s), then the resume leg (resume_s, the median rerun)."""
        t = self.tracer
        wh = self._out("warehouse")
        with t.span("pass") as root:
            with PeakRss(self.jvm_pid) as mem:
                c0 = tree_cpu_s(self.jvm_pid)
                t0 = time.perf_counter()
                self._graph(self.data, wh)
                job_s = time.perf_counter() - t0
                job_cpu_s = tree_cpu_s(self.jvm_pid) - c0
                resumes, resume_cpu, cycles = self._resume()
        # checks read the committed tables; the triple count is the one the
        # partitioned run's manifests recorded for the same corpus
        edges = pd.read_parquet(os.path.join(wh, "edges"))
        n_triples = sum(m["rows"] for m in self.man.values())
        cache.release_all(checkpoints=True)
        p, r = checks.precision_recall(edges, self.ref)
        null_canon = int(
            edges["subj_canonical"].isna().sum() + edges["obj_canonical"].isna().sum()
        )
        rp, rr = checks.precision_recall(self._group_triples(), self.ref)
        self._record(
            self._pr_ok(p, r) and len(edges) == n_triples and null_canon == 0
            and self._pr_ok(rp, rr)
            and all(c["computed"] == c["lost"] for c in cycles)
        )
        entities_out = len(
            pd.read_parquet(os.path.join(wh, "entities"), columns=["entity_id"])
        )
        bytes_written = rex_session.dir_bytes(wh)
        shutil.rmtree(wh, ignore_errors=True)
        lost_rows = sum(self.man[gi]["rows"] for c in cycles for gi in c["lost"])
        recomputed_rows = sum(
            _manifest(self.sdir, gi)["rows"] for c in cycles for gi in c["computed"]
        )
        return {
            "root": root, "job_s": job_s, "resume_s": statistics.median(resumes),
            "job_cpu_s": job_cpu_s, "resume_cpu_s": statistics.median(resume_cpu),
            "peak_rss_mb": mem.peak_mb, "p": min(p, rp), "r": min(r, rr),
            "rows_out": len(edges), "entities_out": entities_out,
            "bytes_written": bytes_written,
            "groups_total": len(self.groups),
            "groups_computed": len(cycles[0]["computed"]),
            "groups_resumed": cycles[0]["resumed"],
            "group_wall_s": statistics.median(m["wall_sec"] for m in self.man.values()),
            "recompute_ratio": recomputed_rows / lost_rows if lost_rows else 1.0,
        }

    PASSES = {
        "extract-mixed": extract_pass,
        "graph-resume": graph_resume_pass,
    }

    def one_pass(self) -> Dict:
        return self.PASSES[self.workload](self)

    # -- single-thread replay ---------------------------------------------

    def replay(self) -> Dict[str, float]:
        """Driver-thread replay of the per-turn public functions over a
        fixed sample of the timed corpus: the single-threaded baseline and
        the per-kernel costs in µs per call."""
        df = pd.read_parquet(
            self.data["transcripts"], columns=["conv_id", "turn_idx", "text"]
        )
        texts = df.sort_values(["conv_id", "turn_idx"])["text"].tolist()[:REPLAY_TURNS]
        kb_pdf = pd.read_parquet(self.data["entity_kb"])
        fg_pdf = pd.read_parquet(self.data["figer_map"])

        def dicts():  # fresh objects, so the memo starts cold
            return (oracle.build_kb_dict(kb_pdf), oracle.build_kb_index(kb_pdf),
                    oracle.build_figer_dict(fg_pdf))

        kb, kb_index, figer = dicts()
        t0 = time.perf_counter()
        for text in texts:
            turnproc.extract_turn_triples(text, kb, kb_index, figer, render=False)
        turn_s = time.perf_counter() - t0

        kb, kb_index, figer = dicts()
        clock = time.perf_counter
        cost = dict.fromkeys(("seg", "parse", "detect", "link", "rel"), 0.0)
        calls = dict.fromkeys(cost, 0)
        for text in texts:
            a = clock()
            sents = rules.segment_text_with_lines(text or "")
            cost["seg"] += clock() - a
            calls["seg"] += 1
            for _li, sent in sents:
                a = clock()
                toks = lx.parse_sentence_soa(sent)
                b = clock()
                ments = rules.detect_mentions(toks, kb_index)
                c = clock()
                cost["parse"] += b - a
                cost["detect"] += c - b
                calls["parse"] += 1
                calls["detect"] += 1
                for m in ments:
                    a = clock()
                    m["url"], m["figer"] = rules.link_mention(
                        str(m["surface"]), kb, figer
                    )
                    cost["link"] += clock() - a
                    calls["link"] += 1
                a = clock()
                rules.extract_relations(toks, ments, render=False)
                cost["rel"] += clock() - a
                calls["rel"] += 1

        def us(k):
            return 1e6 * cost[k] / calls[k] if calls[k] else 0.0

        return {
            "turnproc.turns_per_s_1thread": len(texts) / turn_s,
            "rules.segment_us": us("seg"),
            "lexicon.parse_us": us("parse"),
            "rules.detect_mentions_us": us("detect"),
            "rules.link_mention_us": us("link"),
            "rules.extract_relations_us": us("rel"),
        }

    # -- run ---------------------------------------------------------------

    def prepare(self) -> None:
        """Generate (or reuse) the timed and warm-up corpora and the
        reference triples.  Not part of any timing."""
        t0 = time.perf_counter()
        self.data = corpus.materialize(self.work_dir, self.workload, self.seed)
        if self.workload in corpus.WARM:
            self.warm = corpus.warm_corpus(self.work_dir, self.workload, self.seed)
        self.ref = checks.triple_counter(pd.read_parquet(self.data["oracle"]))
        self.gen_s = time.perf_counter() - t0

    def measure(self) -> List[Dict]:
        """Timed passes until ``seconds`` have passed and there are at
        least ``MIN_PASSES``."""
        passes: List[Dict] = []
        t0 = time.perf_counter()
        while (len(passes) < MIN_PASSES[self.workload]
               or time.perf_counter() - t0 < self.seconds):
            try:
                passes.append(self.one_pass())
            except Exception as e:  # counted in ``failed``; the run goes on
                self._record(False)
                log(f"pass failed: {e!r}")
                if self.failed >= 3 and not passes:
                    raise
        self._memo_check(passes)
        return passes

    def _memo_check(self, passes: List[Dict]) -> None:
        """Self-test of the memo-cold passes: every pass's memo hit rate
        must equal the first (cold) pass's on the same corpus; a memo left
        warm by an earlier pass would raise it."""
        rates = [p["memo_hit_rate"] for p in passes if "memo_hit_rate" in p]
        if rates and max(abs(x - rates[0]) for x in rates) > MEMO_RATE_TOL:
            self.memo_ok = False

    def wall(self, passes: List[Dict]) -> Dict[str, float]:
        """Wall-clock figures of the passes (medians)."""
        job_s = statistics.median(p["job_s"] for p in passes)
        return {
            "job_s": job_s,
            "turns_per_s": self.data["turns"] / job_s,
            "resume_s": statistics.median(p["resume_s"] for p in passes),
        }

    def end_to_end(self, setup_s: float, passes: List[Dict]) -> Dict[str, float]:
        job_cpu_s = statistics.median(p["job_cpu_s"] for p in passes)
        return {
            "setup_s": setup_s,
            "job_cpu_s": job_cpu_s,
            "turns_per_cpu_s": self.data["turns"] / job_cpu_s,
            "resume_cpu_s": statistics.median(p["resume_cpu_s"] for p in passes),
            "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
            "triple_precision": min(p["p"] for p in passes),
            "triple_recall": min(p["r"] for p in passes),
        }

    def traced(self, untraced: List[Dict], trace_path: str) -> Dict[str, float]:
        """One more untraced pass, then one traced pass (the run was set up
        with the event log on): a span around every layer call, then the
        log is parsed.  The overhead is the traced pass's job_s less the
        untraced pass's just before it, so both see the same JIT and plan
        warm-up (a first pass in a JVM is slower)."""
        untraced = untraced + [self.one_pass()]
        untraced_job_s = untraced[-1]["job_s"]
        self.tracer = t = spans.Tracer(enabled=True, sc=self.sc)
        targets = [
            (pipeline, "build_broadcasts", "pipeline.build_broadcasts"),
            (cache, "checkpoint", "cache.checkpoint"),
            (canonicalize, "canonicalize", "canonicalize.canonicalize"),
            (canonicalize, "canonicalize_predicates",
             "canonicalize.canonicalize_predicates"),
            (canonicalize, "connected_components",
             "canonicalize.connected_components"),
            (manifests.PartitionedStageRunner, "stage", "manifests.stage"),
        ]
        with t.wrapping(targets):
            res = self.one_pass()
        self._memo_check(untraced + [res])
        self.close()  # finishes the event log
        log = spans.read_event_log(self.event_log)
        spans.attribute(t, log)
        root = res["root"]["id"]
        m = spans.spark_metrics(log, {t.group_id(i) for i in t.descendants(root)})
        m.update(self.replay())
        turns = self.data["turns"]
        is_extract = self.workload == "extract-mixed"
        mat = t.find("pipeline.materialize_graph")
        staged_ck = t.find("cache.checkpoint", parent=mat[0]["id"]) if mat else []
        canon_groups = {
            t.group_id(i)
            for s in t.find("canonicalize.canonicalize")
            for i in t.descendants(s["id"])
        }
        m.update({
            "session.get_spark_s": self.get_spark_s,
            "pipeline.build_broadcasts_s": t.total("pipeline.build_broadcasts"),
            "pipeline.broadcast_bytes": self.broadcast_bytes,
            "fused.extract_s": t.total("fused.extract"),
            "fused.rows_in": turns if is_extract else 0,
            "fused.rows_out": res["rows_out"] if is_extract else 0,
            "turnproc.memo_lookups": res.get("memo_lookups", 0),
            "turnproc.memo_hit_rate": res.get("memo_hit_rate", 0.0),
            "turnproc.memo_evictions": res.get("memo_evictions", 0),
            "staged.turns_per_s": (
                turns / t.duration(staged_ck[0]) if staged_ck else 0.0
            ),
            "cache.checkpoint_s": t.total("cache.checkpoint"),
            "canonicalize.canonicalize_s": t.total("canonicalize.canonicalize"),
            "canonicalize.jobs": sum(
                1 for g in log["jobs"].values() if g in canon_groups
            ),
            "canonicalize.entities_out": res.get("entities_out", 0),
            "canonicalize.predicates_s": t.total(
                "canonicalize.canonicalize_predicates"
            ),
            "tableio.write_s": t.total("tableio.write"),
            "tableio.bytes_written": res.get("bytes_written", 0),
            "manifests.groups_total": res.get("groups_total", 0),
            "manifests.groups_computed": res.get("groups_computed", 0),
            "manifests.groups_resumed": res.get("groups_resumed", 0),
            "manifests.group_wall_s": res.get("group_wall_s", 0.0),
            "manifests.recompute_ratio": res.get("recompute_ratio", 0.0),
            "trace.overhead_s": res["job_s"] - untraced_job_s,
            "trace.spans": len(t.spans),
        })
        t.dump(trace_path, {
            "workload": self.workload, "seed": self.seed,
            "traced_job_s": res["job_s"], "untraced_job_s": untraced_job_s,
            "per_layer": m,
        })
        return m

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
