"""KG-build benchmark: cold/warm build, resume and incremental-batch latency.

    python3 perfbench/run.py --workload kg_widevocab --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark drives the public KG entry
points (`build_knowledge_graph`, `append_mentions`) through a real local
SparkSession (local[nproc/2], see SLOTS) over seeded transcript corpora that
`perfbench/gen.py` writes as parquet in a separate step, together with the
trained model. Each workload is a closed loop with one client that issues
builds (or batches) one after another, at least MIN_BUILDS of them and for
at least --seconds seconds, after one cold build and WARMUP_BUILDS untimed
ones that warm the session:

  kg_widevocab    full builds; syllable-built names make distinct surfaces
                  grow with turns, so entity resolution does more of the
                  data-bound work than any other layer.
  kg_incremental  a base graph, then 50-conversation batches: each batch is
                  append_mentions + build_knowledge_graph(incremental=True)
                  over the transcripts so far. Job latency carries the cost.

--trace 0 reports the end-to-end metrics (tracing off):
  setup_s             median of SETUPS session restarts (get_spark + input
                      registration) in the running JVM, after the builds
  build_s             mean warm build, caches cleared, fresh out_dir (on
                      kg_incremental: mean batch, append + rebuild). The JIT
                      is still warming during the first few builds and moves
                      time from one build to the next, so the window's total
                      is steadier than any single build or their median.
  turns_per_s         turns built in the window / build time in the window
  resume_s            median of the same call on the same input and
                      out_dir, every stage resumed
  driver_peak_rss_mb  peak RSS of this (driver) process
and prints the cold build's time (on kg_incremental: the base graph's
append + build) as `cold_build_s`, a single sample that is not bounded.

--trace 1 runs one traced build in which every call into a layer's public
functions is a span with a Spark job group of its own (see spans.py), with
persist+count barriers between layers, and reports per-layer metrics plus
the traced-minus-untraced build time (the tracing and barrier overhead).

Every build and batch is checked: stage resume flags, an order-independent
digest of entities and triples (identical across a run's full builds; the
cold build's equals perfbench/expected.json for the default seed; the
traced path's equals the product call's), mentions against
recognize_local on a fixed sample of turns, and triple endpoints against
the entity table. A build that raises or fails a check counts in `failed`;
error_rate = failed / attempted is printed with the host facts.

Everything the run writes stays under .perfbench_work/ in the checkout.
The last stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = len(os.sched_getaffinity(0))
# Task slots of the local session. The builds are bound by job latency, that
# is by the driver's planning and scheduling threads; with half the cores
# running tasks, those threads, the JIT and GC are not starved; on a 4-core
# host builds measured faster at local[2] than at local[4].
SLOTS = max(1, NPROC // 2)

SETUPS = 5  # sessions restarted per run; setup_s is their median
MIN_BUILDS = 2  # timed builds (or batches) per run, however long they take
RESUMES = 2  # resume calls after each timed build; the first one is slower
# Checked but untimed builds between the cold build and the window. Over ten
# kg_widevocab runs the first warm build took 6.8-13.2 s and the second
# 6.8-9.1 s; on kg_incremental the first batch stays within ~15 % of the
# second, and the run's time limit leaves no room for a warm-up batch.
WARMUP_BUILDS = {"kg_widevocab": 1, "kg_incremental": 0}
CHECK_TURNS = 40  # turns re-recognized with recognize_local per check
BATCH_CHECK_TURNS = 8  # ... of each appended batch on kg_incremental
SCALING_TURNS = 4000  # NER sample of the traced run's scaling_eff
SCALING_REPS = 2

ENTITY_COLS = ("entity_id", "canonical", "type", "n_mentions", "n_surfaces")
TRIPLE_COLS = (
    "subj", "pred", "obj", "subj_type", "obj_type", "subj_norm", "obj_norm",
    "n_evidence", "evidence", "n_cooccur",
)
MENTION_COLS = (
    "conv_id", "turn_idx", "sent_idx", "tok_start", "tok_len", "char_start",
    "char_len", "type", "surface",
)
# the LSH parameters resolve_entities passes to lsh_similarity_edges
LSH_ARGS = dict(n_hashes=12, bands=4, k=3, threshold=0.6, max_bucket=200)

UNITS = {
    "setup_s": "s", "build_s": "s", "turns_per_s": "turns/s",
    "resume_s": "s", "driver_peak_rss_mb": "MB",
}
LAYER_TOTAL_UNITS = {
    "s": "s", "jobs": "count", "stages": "count", "executor_s": "s",
    "busy_share": "ratio", "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Checks:
    """Output checks of one run; every failed build or batch counts once."""

    def __init__(self, spark, model, samples):
        from pyspark.sql import functions as F

        self.F = F
        self.spark = spark
        self.model = model
        self.attempted = 0
        self.failed = 0
        self.expected_mentions = {}
        self.add_sample(samples)

    def add_sample(self, rows):
        """rows: [(conv_id, turn_idx, text)] whose mentions every later check
        compares against the single-process recognizer."""
        from nametag_spark.ner.pipeline import recognize_local

        for (conv, turn, text), ments in zip(rows, recognize_local(self.model, [r[2] for r in rows])):
            self.expected_mentions[(conv, int(turn))] = sorted(
                (conv, int(turn), m["sent_idx"], m["tok_start"], m["tok_len"],
                 m["char_start"], m["char_len"], m["type"], m["surface"])
                for m in ments
            )

    def table_digest(self, df, cols) -> str:
        """Row count and exact sum of per-row xxhash64: order-independent."""
        F = self.F
        r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
        ).collect()[0]
        return f"{r['n']}:{r['s']}"

    def digest(self, entities, triples) -> str:
        return self.table_digest(entities, ENTITY_COLS) + "/" + self.table_digest(triples, TRIPLE_COLS)

    def problems(self, res, want_resumed, want_digest=None) -> tuple[list, str]:
        """-> (list of failed checks, digest) for one build_knowledge_graph result."""
        F = self.F
        bad = []
        if list(res["resumed"]) != want_resumed:
            bad.append(f"resumed {res['resumed']} != {want_resumed}")
        dig = self.digest(res["entities"], res["triples"])
        if want_digest is not None and dig != want_digest:
            bad.append(f"digest {dig} != {want_digest}")
        ents, trip = res["entities"], res["triples"]
        if dig.startswith("0:") or "/0:" in dig:
            bad.append("empty entities or triples")
        ends = trip.select(F.col("subj").alias("entity_id")).union(
            trip.select(F.col("obj").alias("entity_id"))
        )
        dangling = ends.join(ents.select("entity_id"), "entity_id", "left_anti").count()
        if dangling:
            bad.append(f"{dangling} triple endpoints missing from entities")
        keys = self.spark.createDataFrame(
            list(self.expected_mentions), "conv_id string, turn_idx int"
        )
        got = {}
        for r in res["mentions"].join(F.broadcast(keys), ["conv_id", "turn_idx"], "left_semi").select(
            *MENTION_COLS
        ).collect():
            got.setdefault((r["conv_id"], r["turn_idx"]), []).append(tuple(r))
        for k, want in self.expected_mentions.items():
            if sorted(got.get(k, [])) != want:
                bad.append(f"mentions of {k} differ from recognize_local")
                break
        return bad, dig

    def run(self, label, op, check):
        """Run op() -> result, time it, then check(result) -> problems.
        Returns (seconds, result) or (None, None) when it raised or failed."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            res = op()
            dt = time.perf_counter() - t0
            bad = check(res)
        except Exception:  # noqa: BLE001 - a failed build is counted, not fatal
            log(f"{label}: raised\n{traceback.format_exc()}")
            self.failed += 1
            return None, None
        if bad:
            log(f"{label}: failed checks: {bad}")
            self.failed += 1
            return None, None
        return dt, res


class Bench:
    def __init__(self, args, info, run_dir):
        self.args = args
        self.info = info
        self.run_dir = run_dir
        self.model_dir = info["model_dir"]
        self.spark = None
        self.n_out = 0
        self.t0 = time.perf_counter()
        self.incremental = "batches" in info["parts"]
        parts = info["parts"]
        self.inputs = [parts["base"]] if self.incremental else [parts["corpus"]]
        with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as f:
            expected = json.load(f)
        self.expected_digest = (
            expected["digests"].get(args.workload) if args.seed == expected["default_seed"] else None
        )

    # -- session -----------------------------------------------------------

    def start_session(self):
        """get_spark + input registration; returns (transcripts, seconds)."""
        from nametag_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{SLOTS}]",
            shuffle_partitions=SLOTS,
            extra_conf={
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                # no hsperfdata files in the system temp directory
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(self.run_dir, "tmp"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        transcripts = self.spark.read.parquet(*self.inputs)
        return transcripts, time.perf_counter() - t0

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def host_facts(self) -> dict:
        conf = self.spark.conf
        return {
            "nproc": NPROC,
            "master": self.spark.sparkContext.master,
            "spark": self.spark.version,
            "java": self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "arrow_batch": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
            "driver_memory": conf.get("spark.driver.memory"),
        }

    # -- helpers -------------------------------------------------------------

    def phase(self, name: str) -> None:
        log(f"{time.perf_counter() - self.t0:7.1f}s {name}")

    def new_out(self) -> str:
        self.n_out += 1
        return os.path.join(self.run_dir, f"graph-{self.n_out:04d}")

    def reset(self):
        """Isolate the next build: without this Spark's CacheManager serves
        the previous build's persisted blocks by plan match."""
        from nametag_spark.kg.resolution import release_persisted

        release_persisted()
        self.spark.catalog.clearCache()

    def sample_rows(self, path, n):
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        t = pq.read_table(os.path.join(path, files[0]), columns=["conv_id", "turn_idx", "text"])
        return list(zip(*(t.column(c).to_pylist()[:n] for c in ("conv_id", "turn_idx", "text"))))

    def make_checks(self):
        from nametag_spark.model.model import NerModel

        model = NerModel.load(self.model_dir)
        return Checks(self.spark, model, self.sample_rows(self.inputs[0], CHECK_TURNS))

    def full_build(self, transcripts, out):
        from nametag_spark.kg.graph_io import build_knowledge_graph

        return lambda: build_knowledge_graph(self.spark, transcripts, self.model_dir, out)

    def batch(self, batch_df, transcripts, out, batch_id):
        from nametag_spark.kg.graph_io import append_mentions, build_knowledge_graph

        def op():
            append_mentions(self.spark, batch_df, self.model_dir, out, batch_id)
            return build_knowledge_graph(self.spark, transcripts, self.model_dir, out, incremental=True)

        return op

    def incremental_rebuild(self, transcripts, out):
        from nametag_spark.kg.graph_io import build_knowledge_graph

        return lambda: build_knowledge_graph(
            self.spark, transcripts, self.model_dir, out, incremental=True
        )

    # -- end-to-end ----------------------------------------------------------

    def run_e2e(self) -> tuple[dict, Checks, dict]:
        transcripts, launch = self.start_session()
        self.phase(f"JVM launched, session started in {launch:.3f}s")
        checks = self.make_checks()
        built = self.incremental_loop(checks, transcripts) if self.incremental else self.full_loop(
            checks, transcripts
        )
        corpus = built.pop("_corpus")
        self.cold_build_s = built.pop("cold_build_s")
        # session restarts in the running JVM, after the builds so that the
        # JIT is as warm for each of them
        setups = []
        for _ in range(SETUPS):
            self.stop_session()
            setups.append(self.start_session()[1])
        self.phase(f"setups {[round(t, 3) for t in setups]}")
        metrics = {"setup_s": statistics.median(setups), **built}
        metrics["driver_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return metrics, checks, corpus

    def corpus_facts(self, res, n_turns) -> dict:
        rows = {m["stage"]: m.get("rows") for m in res["manifests"]}
        return {
            "turns": n_turns,
            "mentions": res["mentions"].count(),
            "surfaces": res["mention_entities"].select("type", "norm").distinct().count(),
            "entities": rows["entities"],
            "triples": rows["triples"],
        }

    def full_loop(self, checks, transcripts) -> dict:
        out = self.new_out()
        state = {}

        def check_cold(res):
            bad, state["digest"] = checks.problems(res, [False] * 4, self.expected_digest)
            return bad

        cold, res = checks.run("cold build", self.full_build(transcripts, out), check_cold)
        if res is None:
            raise RuntimeError("cold build failed; no reference digest")
        n_turns = transcripts.count()
        self.phase(f"cold build done, digest {state['digest']}")
        corpus = self.corpus_facts(res, n_turns)
        shutil.rmtree(out, ignore_errors=True)

        builds, resumes = [], []
        warmup = WARMUP_BUILDS[self.args.workload]
        t_window = None
        i = 0
        while i < warmup + MIN_BUILDS or time.perf_counter() - t_window < self.args.seconds:
            i += 1
            if i == warmup + 1:
                t_window = time.perf_counter()
            self.reset()
            out = self.new_out()
            dt, _ = checks.run(
                f"build {i}",
                self.full_build(transcripts, out),
                lambda r: checks.problems(r, [False] * 4, state["digest"])[0],
            )
            if dt is not None and i > warmup:
                builds.append(dt)
                for j in range(RESUMES):
                    rt, _ = checks.run(f"resume {i}.{j}", self.full_build(transcripts, out), _all_resumed)
                    if rt is not None:
                        resumes.append(rt)
            shutil.rmtree(out, ignore_errors=True)
        build_s = statistics.fmean(builds)
        self.phase(f"builds {[round(b, 3) for b in builds]} resumes {[round(r, 3) for r in resumes]}")
        return {
            "cold_build_s": cold,
            "build_s": build_s,
            "turns_per_s": n_turns / build_s,
            "resume_s": statistics.median(resumes),
            "_corpus": corpus,
        }

    def incremental_loop(self, checks, base) -> dict:
        batches = self.info["parts"]["batches"]
        out = self.new_out()
        state = {}

        def check_base(res):
            bad, state["digest"] = checks.problems(res, [True, False, False, False], self.expected_digest)
            return bad

        cold, res = checks.run("base ingest", self.batch(base, base, out, "base"), check_base)
        if res is None:
            raise RuntimeError("base ingest failed")
        self.phase(f"base ingest done, digest {state['digest']}")
        corpus = self.corpus_facts(res, base.count())

        builds, turns, resumes = [], [], []
        paths = [self.inputs[0]]
        warmup = WARMUP_BUILDS[self.args.workload]
        t_window = None
        k = 0
        while k < warmup + MIN_BUILDS or time.perf_counter() - t_window < self.args.seconds:
            if k == warmup:
                t_window = time.perf_counter()
            if k == len(batches):
                log(f"all {k} generated batches used before the window closed")
                break
            self.reset()
            checks.add_sample(self.sample_rows(batches[k], BATCH_CHECK_TURNS))
            paths.append(batches[k])
            transcripts = self.spark.read.parquet(*paths)
            batch_df = self.spark.read.parquet(batches[k])
            dt, _ = checks.run(
                f"batch {k}",
                self.batch(batch_df, transcripts, out, f"b{k:04d}"),
                lambda r: checks.problems(r, [True, False, False, False])[0],
            )
            k += 1
            if dt is None or k <= warmup:
                continue
            builds.append(dt)
            turns.append(transcripts.count())
            for j in range(RESUMES):
                rt, _ = checks.run(
                    f"resume {k}.{j}", self.incremental_rebuild(transcripts, out), _all_resumed
                )
                if rt is not None:
                    resumes.append(rt)
        self.phase(f"batches {[round(b, 3) for b in builds]} resumes {[round(r, 3) for r in resumes]}")
        return {
            "cold_build_s": cold,
            "build_s": statistics.fmean(builds),
            "turns_per_s": sum(turns) / sum(builds),
            "resume_s": statistics.median(resumes),
            "_corpus": corpus,
        }

    def scaling_eff(self) -> float:
        """NER throughput at local[SLOTS] over SLOTS x single-task throughput,
        both on the same cached sample, median of SCALING_REPS each."""
        from nametag_spark.ner.pipeline import recognize_df

        self.reset()
        paths = self.inputs + self.info["parts"].get("batches", [])
        sample = (
            self.spark.read.parquet(*paths)
            .orderBy("conv_id", "turn_idx")
            .limit(SCALING_TURNS)
            .repartition(SLOTS)
            .persist()
        )
        n = sample.count()
        one, many = [], []
        for _ in range(SCALING_REPS):
            for df, acc in ((sample.coalesce(1), one), (sample, many)):
                t0 = time.perf_counter()
                recognize_df(df, self.model_dir).count()
                acc.append(time.perf_counter() - t0)
        sample.unpersist()
        eff = statistics.median(one) / (SLOTS * statistics.median(many))
        log(f"scaling: {n} turns, 1 task {one}, {SLOTS} tasks {many} -> {eff:.3f}")
        return eff

    # -- traced --------------------------------------------------------------

    def run_traced(self) -> tuple[dict, Checks, dict]:
        from pyspark.sql import functions as F

        from nametag_spark.kg.graph_io import append_mentions, read_incremental_mentions, run_stage
        from nametag_spark.kg.resolution import (
            canonicalize_mentions,
            connected_components,
            lsh_similarity_edges,
            resolve_entities,
        )
        from nametag_spark.kg.triples import aggregate_triples, triple_evidence
        from nametag_spark.ner.pipeline import recognize_df, tokenize_df
        from spans import Tracer

        transcripts, setup = self.start_session()
        tr = Tracer(self.spark)
        tr.record("session", "start", setup, None)
        checks = self.make_checks()
        m = {}

        with tr.span("ner.pipeline", "warmup", path=False):
            recognize_df(transcripts.limit(16), self.model_dir).count()
        with tr.span("ner.pipeline", "tokenize", path=False):
            m["ner.pipeline.tokens_out"] = tokenize_df(transcripts).count()

        # two untraced builds (full) or batches (incremental) warm the session;
        # the second is the reference the traced build is compared with
        out = self.new_out()
        if self.incremental:
            batches = self.info["parts"]["batches"]
            checks.run(
                "base ingest", self.batch(transcripts, transcripts, out, "base"),
                lambda r: checks.problems(r, [True, False, False, False], self.expected_digest)[0],
            )
            paths = list(self.inputs)
            for k in range(3):
                self.reset()
                paths.append(batches[k])
                checks.add_sample(self.sample_rows(batches[k], BATCH_CHECK_TURNS))
                batch_df = self.spark.read.parquet(batches[k])
                transcripts = self.spark.read.parquet(*paths)
                if k == 2:
                    break  # traced below
                untraced, res = checks.run(
                    f"untraced batch {k}", self.batch(batch_df, transcripts, out, f"b{k:04d}"),
                    lambda r: checks.problems(r, [True, False, False, False])[0],
                )
        else:
            for k in range(2):
                self.reset()
                untraced, res = checks.run(
                    f"untraced build {k}", self.full_build(transcripts, self.new_out()),
                    lambda r: checks.problems(r, [False] * 4, self.expected_digest)[0],
                )
        if untraced is None:
            raise RuntimeError("untraced reference build failed")
        m["ner.pipeline.turns_in"] = n_turns = transcripts.count()
        self.reset()

        # traced build path, layers separated by persist+count barriers
        t0 = time.perf_counter()
        if self.incremental:
            with tr.span("ner.pipeline", "recognize"):
                m["ner.pipeline.mentions_out"] = recognize_df(batch_df, self.model_dir).count()
            with tr.span("kg.graph_io", "append"):
                append_mentions(self.spark, batch_df, self.model_dir, out, "b0002")
            mentions = read_incremental_mentions(self.spark, out).drop("ingest_batch").persist()
        else:
            with tr.span("ner.pipeline", "recognize"):
                mentions = recognize_df(transcripts, self.model_dir).persist()
                m["ner.pipeline.mentions_out"] = mentions.count()
        with tr.span("kg.resolution", "resolve"):
            me, ents = resolve_entities(mentions)
            me = me.persist()
            me.count()
            m["kg.resolution.entities_out"] = ents.persist().count()
        with tr.span("kg.triples", "evidence"):
            ev = triple_evidence(me, transcripts).persist()
            m["kg.triples.evidence_rows"] = ev.count()
        with tr.span("kg.triples", "aggregate"):
            trip = aggregate_triples(ev).persist()
            m["kg.triples.triples_out"] = trip.count()
        traced_out = self.new_out()
        stages = [("mentions", mentions, None), ("mention_entities", me, None),
                  ("entities", ents, None), ("triples", trip, ["pred"])]
        with tr.span("kg.graph_io", "write"):
            written = [
                run_stage(self.spark, traced_out, name, {"stage": name}, lambda df=df: df, part)
                for name, df, part in stages
            ]
        traced = time.perf_counter() - t0
        m["kg.graph_io.rows_written"] = sum(w[1]["rows"] for w in written)

        # the traced path must produce the graph the product call produces
        checks.attempted += 1
        if self.incremental:
            res = self.incremental_rebuild(transcripts, out)()
        dig = checks.digest(ents, trip)
        want = checks.digest(res["entities"], res["triples"])
        self.phase(f"traced build done, digest {dig}")
        if dig != want:
            log(f"traced build digest {dig} != untraced {want}")
            checks.failed += 1

        with tr.span("kg.graph_io", "resume", path=False):
            hits = [
                run_stage(self.spark, traced_out, name, {"stage": name}, _no_build, part)[2]
                for name, _df, part in stages
            ]
        if hits != [True] * 4:
            log(f"run_stage resume hits {hits}")
            checks.failed += 1
        if not self.incremental:
            small = transcripts.where(F.col("conv_id") < "conv-000050")
            with tr.span("kg.graph_io", "append", path=False):
                append_mentions(self.spark, small, self.model_dir, self.new_out(), "trace")

        # resolution breakdown: the building blocks resolve_entities calls,
        # each on its own over the same mentions; caches are cleared first so
        # that no probe reuses a frame resolve_entities persisted
        self.reset()
        mentions.persist().count()
        with tr.span("kg.resolution", "surfaces", path=False):
            surfaces = canonicalize_mentions(mentions).where(F.length("norm") > 0).groupBy(
                "type", "norm"
            ).agg(F.count(F.lit(1)).alias("n_mentions")).persist()
            m["kg.resolution.surfaces_out"] = surfaces.count()
        with tr.span("kg.resolution", "lsh", path=False):
            edges = lsh_similarity_edges(
                surfaces.select(F.xxhash64("type", "norm").alias("sid"), "type", "norm"),
                "norm", "sid", block_col="type", dedupe=False, **LSH_ARGS,
            ).persist()
            m["kg.resolution.edges_out"] = edges.count()
        with tr.span("kg.resolution", "cc", path=False):
            comp = connected_components(edges).persist()
            comp.count()
        m["kg.resolution.components_out"] = comp.select("component").distinct().count()
        m["kg.resolution.edges_per_surface"] = (
            m["kg.resolution.edges_out"] / m["kg.resolution.surfaces_out"]
        )
        m["ner.pipeline.scaling_eff"] = self.scaling_eff()

        units = {}
        for layer in ("session", "ner.pipeline", "kg.resolution", "kg.triples", "kg.graph_io"):
            for k, v in tr.totals(layer).items():
                m[f"{layer}.{k}"] = v
                units[f"{layer}.{k}"] = LAYER_TOTAL_UNITS[k]
        m["session.start_s"] = setup
        for layer, key in (
            ("ner.pipeline", "warmup"), ("ner.pipeline", "tokenize"),
            ("kg.resolution", "surfaces"), ("kg.resolution", "lsh"), ("kg.resolution", "cc"),
            ("kg.triples", "evidence"), ("kg.triples", "aggregate"),
            ("kg.graph_io", "write"), ("kg.graph_io", "resume"), ("kg.graph_io", "append"),
        ):
            m[f"{layer}.{key}_s"] = tr.get(layer, key)
        m["kg.resolution.cc_jobs"] = tr.get("kg.resolution", "cc", "jobs")
        m["trace.build_s"] = traced
        m["trace.untraced_build_s"] = untraced
        m["trace.overhead_s"] = traced - untraced
        for name in m:
            units.setdefault(name, _unit_of(name))
        for s in tr.spans:
            log(f"span {s['layer']}.{s['key']}{'' if s['path'] else ' (probe)'}: "
                + " ".join(f"{k}={s[k]:.3f}" for k in ("s", "jobs", "stages", "executor_s", "shuffle_mb")))
        corpus = {"turns": n_turns, "mentions": mentions.count(),
                  "surfaces": m["kg.resolution.surfaces_out"],
                  "entities": m["kg.resolution.entities_out"], "triples": m["kg.triples.triples_out"]}
        return {k: (v, units[k]) for k, v in m.items()}, checks, corpus


def _all_resumed(res) -> list:
    """A resume serves the parquet its build wrote and checked; only the
    stage flags need checking."""
    return [] if list(res["resumed"]) == [True] * 4 else [f"resumed {res['resumed']}"]


def _no_build():
    raise RuntimeError("run_stage rebuilt a stage that should have resumed")


def _unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_per_surface", "scaling_eff")):
        return "ratio"
    return "count"


def checkout_ok() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, *p))
        for p in (("__spark_entry__.py",), ("nametag_spark", "kg", "graph_io.py"))
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import gen

    if args.workload not in gen.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(gen.WORKLOADS)}")
        return 2
    if not checkout_ok():
        log(f"{ROOT} is not a checkout of the repository (no nametag_spark package)")
        return 2

    cache = os.path.join(WORK, "cache")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in (cache, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, TMPDIR=cache)
    bench = None
    try:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--out", os.path.join(run_dir, "input")],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, timeout=850, check=True,
        )
        info = json.loads(proc.stdout.strip().splitlines()[-1])
        log(f"generated {info['turns']} turns in {time.perf_counter() - t0:.1f}s")

        os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        sys.path.insert(0, ROOT)
        bench = Bench(args, info, run_dir)
        if args.trace:
            values, checks, corpus = bench.run_traced()
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
        else:
            values, checks, corpus = bench.run_e2e()
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
        host = bench.host_facts()
    finally:
        if bench is not None:
            _shutdown(bench)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace}")
    print("host " + json.dumps(host, sort_keys=True))
    print("corpus " + json.dumps(corpus, sort_keys=True))
    for name, m in metrics.items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        print(f"cold_build_s {bench.cold_build_s:.6g} s (one sample a run; printed, not bounded)")
    print(f"error_rate {checks.failed / checks.attempted:.4f} ({checks.failed}/{checks.attempted})")
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0


def _shutdown(bench: Bench) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    bench.stop_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
