"""The benchmark's workloads, driven through the program's public calls.

``deploy_presidio`` is the durable deploy job of tools/submit_pipeline.py:
the presidio tagger, 16 url-hash buckets committed 8 per commit, then the
five checkpointed KG stages.

``kg_refresh`` feeds pre-tagged entities of new pages through
``IncrementalKg.process_batch``: an untimed priming batch, then a timed
micro-batch of new pages against the primed state, then the graph
analytics a KG consumer rebuilds on the refreshed canonical map
(co-occurrence pairs, k-core, k-truss). One timed batch, not several,
keeps a run inside the benchmark's time budget: every batch costs about
9 s of per-job overhead whatever its size.

Each workload generates its inputs (``prepare``), reads them (``load``),
runs an untimed warm-up on its own slice (``warmup``), runs the timed pass
(``timed``) and checks the outputs (``check``).
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

import checks
import gen

KG_STAGES = ("mentions", "edges", "components", "canonical", "triples")


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Result:
    """What a pass produced: operations attempted/failed, unit walls,
    digests of its outputs and failed-check names."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.batch_walls: list[float] = []
        self.digests: dict[str, str] = {}
        self.failed_checks: list[str] = []
        self.info: dict = {}

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failed_checks.append(name)


class DeployPresidio:
    name = "deploy_presidio"
    WARM_PAGES = 300
    PAGES = 1500
    SAMPLE = 1500  # pages compared with the reference tagger
    N_BUCKETS = 16
    BUCKETS_PER_COMMIT = 8

    def __init__(self, work: str, seed: int) -> None:
        from ner_backend_spark.spark.tagger import ReportConfig

        self.work = work
        self.seed = seed
        # the tools/submit_pipeline.py deploy configuration
        self.config = ReportConfig.make(
            model_type="presidio",
            custom_tags={"custom_token": r"a1b2c3"},
            groups={"has_email": "COUNT(EMAIL) > 0"},
        )

    def prepare(self) -> None:
        warm, timed = gen.slices(self.seed, [self.WARM_PAGES, self.PAGES])
        gen.write_pages(f"{self.work}/in/pages_warm", gen.page_rows(warm, self.PAGES, 1))
        rows = gen.page_rows(timed, self.PAGES, 1)
        gen.write_pages(f"{self.work}/in/pages", rows)
        self.sample = [(r[0], r[3]) for r in rows[: self.SAMPLE]]

    def load(self, spark) -> None:
        read = spark.read.schema(gen.PAGES_DDL)
        self.pages_warm = read.parquet(f"{self.work}/in/pages_warm")
        self.pages = read.parquet(f"{self.work}/in/pages")

    def _report(self, spark, tracer, pages, out: str, n_buckets: int) -> dict:
        from ner_backend_spark.spark.checkpoint import CheckpointedReportRunner

        with tracer.span("report.run"):
            return CheckpointedReportRunner(
                spark, self.config, out,
                n_buckets=n_buckets,
                buckets_per_commit=self.BUCKETS_PER_COMMIT,
            ).run(pages.select("url", "text"))

    def warmup(self, spark, tracer) -> None:
        """One report commit of the same runner: the report's first run in a
        fresh JVM costs about 1.5x a warm one, and most of that is paid
        once (Python workers, model load, code generation). The KG stages
        are left out: their first-run penalty (about 1 s of 10-20 s) is
        smaller than their own warm-up would cost."""
        self._report(
            spark, tracer, self.pages_warm, f"{self.work}/out_warm",
            n_buckets=self.BUCKETS_PER_COMMIT,
        )

    def timed(self, spark, tracer) -> Result:
        from ner_backend_spark.flagship import KG_MAX_BUCKET
        from ner_backend_spark.spark.checkpoint_kg import CheckpointedKgRunner

        out = self.out = f"{self.work}/out"
        res = Result()
        with tracer.span("pass"):
            rep = self._report(spark, tracer, self.pages, out, self.N_BUCKETS)
            with tracer.span("kg.run"):
                entities = spark.read.parquet(f"{out}/entities").select("url", "label", "text")
                groups = spark.read.parquet(f"{out}/object_groups").select("url", "group_name")
                kgr = CheckpointedKgRunner(
                    spark, out, max_bucket_size=KG_MAX_BUCKET
                ).run(entities, groups)
        res.attempted += self.N_BUCKETS + len(KG_STAGES)
        res.failed += len(rep["failed_buckets"]) + len(KG_STAGES) - len(kgr["stages_run"])
        # one report commit (8 buckets) is this job's unit of durable progress
        ck = spark.read.parquet(f"{out}/checkpoints")
        res.batch_walls = sorted(
            r["end_ts"] - r["start_ts"]
            for r in ck.select("start_ts", "end_ts").distinct().collect()
        )
        return res

    def check(self, spark, res: Result, record: bool) -> None:
        from ner_backend_spark.spark.pipeline import text_invariant_violations

        out = self.out
        res.check("text_invariant", text_invariant_violations(self.pages).count() == 0)
        urls = {u for u, _ in self.sample}
        got = {
            tuple(r)
            for r in spark.read.parquet(f"{out}/entities")
            .select("url", "label", "text", "start", "end", "l_context", "r_context")
            .collect()
            if r["url"] in urls
        }
        p, r = checks.presidio_pr(self.sample, got, self.config)
        res.info["precision"], res.info["recall"] = p, r
        res.check("entity_pr", p >= 0.95 and r >= 0.95)
        res.digests = {
            "entities": checks.digest(
                spark.read.parquet(f"{out}/entities")
                .select("url", "label", "text", "start", "end")
            ),
            "triples": checks.digest(spark.read.parquet(f"{out}/kg/triples")),
        }
        if record:
            # the stage-checkpointed KG must equal the one-shot build
            from ner_backend_spark.flagship import KG_MAX_BUCKET
            from ner_backend_spark.spark.kg import build_triples

            ents = spark.read.parquet(f"{out}/entities").select("url", "label", "text")
            groups = spark.read.parquet(f"{out}/object_groups").select("url", "group_name")
            oneshot = build_triples(ents, groups, None, 0.5, KG_MAX_BUCKET)
            res.check("triples_oneshot", checks.digest(oneshot) == res.digests["triples"])

    def layers(self, spark, tracer, res: Result) -> dict:
        """Per-layer numbers that need more than the spans: the tagger alone
        on a noop sink under the UDF profiler, and the KG stage table."""
        import glob
        import pstats
        import tempfile

        from ner_backend_spark.spark.checkpoint_kg import kg_stage_metrics
        from ner_backend_spark.spark.pipeline import run_report

        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        with tracer.span("tagger.noop") as sp:
            run_report(self.pages.select("url", "text"), self.config).entities.write.format(
                "noop"
            ).mode("overwrite").save()
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        prof_dir = tempfile.mkdtemp(prefix="profile_", dir=self.work)
        spark.profile.dump(prof_dir, type="perf")
        udf_self = sum(
            pstats.Stats(p).total_tt
            for p in glob.glob(os.path.join(prof_dir, "*.pstats"))
        )
        stages = kg_stage_metrics(spark, self.out)
        ck = spark.read.parquet(f"{self.out}/kg_checkpoints").collect()
        return {
            "tagger.noop_s": sp.seconds,
            "tagger.udf_self_s": udf_self,
            "tagger.entities": spark.read.parquet(f"{self.out}/entities").count(),
            "report.commits": len(res.batch_walls),
            "report.bytes_written": sum(
                du(f"{self.out}/{t}")
                for t in ("entities", "object_groups", "checkpoints", "report_tags")
            ),
            "kg.stages": stages,
            "kg.stage_windows": {
                r["stage"]: (r["start_ts"], r["end_ts"]) for r in ck
            },
        }


class KgRefresh:
    name = "kg_refresh"
    PRIME_PAGES = 400
    BATCH_PAGES = 250
    N_BATCHES = 1

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.names = ["prime"] + [f"batch{b}" for b in range(1, self.N_BATCHES + 1)]

    def prepare(self) -> None:
        sizes = [self.PRIME_PAGES] + [self.BATCH_PAGES] * self.N_BATCHES
        for name, ids in zip(self.names, gen.slices(self.seed, sizes)):
            gen.write_entities(
                f"{self.work}/in/entities/batch={name}", gen.page_rows(ids, sum(sizes), 1)
            )

    def load(self, spark) -> None:
        ents = spark.read.schema(gen.ENTITIES_DDL + ", batch string").parquet(
            f"{self.work}/in/entities"
        )
        self.inputs = {
            n: ents.filter(F.col("batch") == n).drop("batch") for n in self.names
        }

    def _graph(self, spark, tracer) -> None:
        """The graph analytics a KG consumer rebuilds after a refresh:
        triples over every batch so far, co-occurrence pairs, k-core and
        k-truss."""
        from ner_backend_spark.spark.graph import cooccurring_pairs, kcore, truss
        from ner_backend_spark.spark.kg import triples_from_canonical

        entities = self.inputs[self.names[0]]
        for name in self.names[1:]:
            entities = entities.unionByName(self.inputs[name])
        out = f"{self.inc.base}_graph"  # outside the state dir it reports on
        with tracer.span("graph.cooc"):
            triples = triples_from_canonical(entities, self.inc.canonical())
            cooccurring_pairs(triples, max_per_subj=20).write.parquet(f"{out}/cooc")
        edges = spark.read.parquet(f"{out}/cooc").select(
            F.col("obj_a").alias("src"), F.col("obj_b").alias("dst")
        )
        with tracer.span("graph.kcore"):
            kcore(edges, k=2).write.parquet(f"{out}/kcore")
        with tracer.span("graph.truss"):
            truss(edges, k=3).write.parquet(f"{out}/truss")

    def warmup(self, spark, tracer) -> None:
        """The untimed priming batch is also the warm-up: a fresh JVM's
        first batch costs over twice a warm one, and a separate warm-up
        batch on its own state would only repeat the empty-state path the
        priming batch runs, at 20 s a run. The graph calls show no
        first-run penalty."""
        from ner_backend_spark.streaming.kg_update import IncrementalKg

        self.inc = IncrementalKg(spark, f"{self.work}/state")
        with tracer.span("kg_update.prime"):
            self.inc.process_batch(self.inputs["prime"], 0)

    def timed(self, spark, tracer) -> Result:
        res = Result()
        with tracer.span("pass"):
            for b, name in enumerate(self.names[1:], 1):
                with tracer.span("kg_update.batch") as sp:
                    self.inc.process_batch(self.inputs[name], b)
                res.batch_walls.append(sp.seconds)
            self._graph(spark, tracer)
        res.attempted += self.N_BATCHES + 3  # batches and graph calls
        res.failed += sum(
            not os.path.isdir(f"{self.inc.base}/assign_v{b}")
            for b in range(1, self.N_BATCHES + 1)
        )
        return res

    def check(self, spark, res: Result, record: bool) -> None:
        out = f"{self.inc.base}_graph"
        cooc = [tuple(x) for x in spark.read.parquet(f"{out}/cooc")
                .select("obj_a", "obj_b").collect()]
        kc = {r["node"]: r["deg"] for r in spark.read.parquet(f"{out}/kcore").collect()}
        res.check("kcore_oracle", kc == checks.kcore_oracle(cooc, 2))
        tr = {
            (r["node_a"], r["node_b"]): r["support"]
            for r in spark.read.parquet(f"{out}/truss").collect()
        }
        res.check("truss_oracle", tr == checks.truss_oracle(cooc, 3))
        res.digests = {
            "assignment": checks.digest(self.inc.assignment()),
            "canonical": checks.digest(self.inc.canonical()),
            "kcore": checks.digest(spark.read.parquet(f"{out}/kcore")),
            "truss": checks.digest(spark.read.parquet(f"{out}/truss")),
        }
        if record:
            # incremental components must equal a batch rebuild over the
            # union of every batch's mentions
            from ner_backend_spark.spark.kg import mention_components

            got = {(r["id"], r["component"]) for r in self.inc.components().collect()}
            want = {
                (r["id"], r["component"])
                for r in mention_components(self.inc.mentions()).collect()
            }
            res.check("incremental_equals_batch", got == want)

    def layers(self, spark, tracer, res: Result) -> dict:
        import json

        new = 0
        for b in range(1, self.N_BATCHES + 1):
            with open(f"{self.inc.base}/metrics_v{b}.json") as f:
                new += json.load(f)["n_new_mentions"]
        batch_spans = tracer.find("kg_update.batch")
        return {
            "kg_update.batch_s": statistics.median(s.seconds for s in batch_spans),
            "kg_update.jobs_per_batch": statistics.median(
                tracer.jobs_total(s) for s in batch_spans
            ),
            "kg_update.state_bytes": du(self.inc.base),
            "kg_update.new_mentions": new,
        }


WORKLOADS = {w.name: w for w in (DeployPresidio, KgRefresh)}
