"""The benchmark's workloads: inputs, the production call, its output check
and the layer-by-layer traced replica of that call.

Each workload generates its inputs from the seed (``prepare``), calls one
production entry point on them (``run``) and checks what it committed
(``check``). ``traced`` calls the public
functions of each layer in the order the entry point calls them, inside
``tracer.layer(...)`` spans; its outputs are checked like the production
call's.
"""

from __future__ import annotations

import os

import checks
import gen_harvest
import gen_kg

CATALOGUE = "perfbench"
LAYOUT_SWITCH = 20_000  # run_harvest's auto datasets layout threshold


class Harvest:
    """``harvest.run_harvest`` over one generated N-Triples catalogue."""

    def __init__(self, name: str, work: str, seed: int, n_datasets: int):
        self.name, self.seed, self.n_datasets = name, seed, n_datasets
        self.input = os.path.join(work, "input", "catalogue.nt")

    def prepare(self) -> dict:
        os.makedirs(os.path.dirname(self.input), exist_ok=True)
        cat = gen_harvest.generate(self.n_datasets, self.seed)
        gen_harvest.write_nt(cat, self.input)
        self.exp = gen_harvest.expected(cat, CATALOGUE)
        self.input_rows = self.exp["summary"]["n_statements"]
        self.layout = "partitioned" if self.exp["summary"]["n_datasets"] <= LAYOUT_SWITCH else "parquet"
        return self.exp["stats"]

    def run(self, spark, out: str) -> dict:
        import harvest

        return harvest.run_harvest(spark, self.input, out, CATALOGUE)

    def check(self, out: str, info: dict) -> list[str]:
        exp, problems = self.exp, []
        for k, v in exp["summary"].items():
            if info.get(k) != v:
                problems.append(f"summary {k}: got {info.get(k)}, want {v}")
        if info.get("n_rejects") != 0 or info.get("datasets_layout") != self.layout:
            problems.append(f"rejects/layout: {info.get('n_rejects')}/{info.get('datasets_layout')}")
        ds = os.path.join(out, "datasets")
        if self.layout == "parquet":
            got = checks.parquet_rows(ds, ["dataset_id", "value"])
        else:
            got = checks.partitioned_text_rows(ds, "dataset_id")
        checks.compare("datasets", got, exp["datasets"], problems)
        man = [(c, list(ids)) for c, ids in checks.json_rows(os.path.join(out, "manifest"), ["catalogue", "identifiers"])]
        checks.compare("manifest", man, [(c, list(i)) for c, i in exp["manifest"]], problems)
        warn = checks.json_rows(os.path.join(out, "warnings"), ["catalogue", "identifier", "n_occurrences"])
        checks.compare("warnings", warn, exp["warnings"], problems)
        per_stage: dict[str, int] = {}
        for stage, n in checks.parquet_rows(os.path.join(out, "metrics"), ["stage", "rows_out"]):
            per_stage[stage] = per_stage.get(stage, 0) + n
        want = {
            "parse": exp["summary"]["n_statements"],
            "split": exp["summary"]["n_dataset_statements"],
            "datasets": exp["summary"]["n_datasets"],
        }
        if per_stage != want:
            problems.append(f"lineage metrics: got {per_stage}, want {want}")
        return problems

    check_traced = check

    def traced(self, spark, out: str, tracer) -> dict:
        """``run_harvest``'s body (in-memory landing, no resume), one span
        per layer."""
        import uuid

        from pyspark.sql import functions as F

        import harvest
        from bop_consus_importing_rdf_spark.functions.ntriples import nt_line
        from bop_consus_importing_rdf_spark.operators.manifest import (
            duplicate_warnings,
            manifest,
            with_counter,
        )
        from bop_consus_importing_rdf_spark.operators.parallelism import plan_size_bytes
        from bop_consus_importing_rdf_spark.operators.split import split_datasets
        from bop_consus_importing_rdf_spark.plans.lineage import stage_metrics, union_metrics

        run_id = uuid.uuid4().hex[:12]
        with tracer.layer("sources.rdf_io"):
            parsed = harvest.load_triples(spark, self.input, "nt", False, keep_malformed=True)
            plan_size_bytes(parsed)
            parsed = parsed.cache()
            n_rejects = parsed.filter(F.col("obj_kind").isNull()).count()
            triples = parsed.filter(F.col("obj_kind").isNotNull())
            n_statements = triples.count()
        tracer.rows("sources.rdf_io", n_statements)
        with tracer.layer("operators.split"):
            ds_triples, datasets = split_datasets(triples, False, False, input_materialized=True)
            n_ds_statements = ds_triples.count()
        tracer.rows("operators.split", n_ds_statements)
        with tracer.layer("operators.manifest"):
            counted = with_counter(datasets.withColumn("catalogue", F.lit(CATALOGUE))).cache()
            n_datasets = counted.count()
        layout = "partitioned" if n_datasets <= LAYOUT_SWITCH else "parquet"
        with tracer.layer("harvest.sink"):
            rendered = ds_triples.select(
                "dataset_id",
                nt_line(
                    F.col("subj"), F.col("pred"), F.col("obj_value"),
                    F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
                ).alias("value"),
            )
            if layout == "partitioned":
                rendered.write.mode("overwrite").partitionBy("dataset_id").text(f"{out}/datasets")
            else:
                rendered.write.mode("overwrite").parquet(f"{out}/datasets")
        tracer.extra("harvest.sink.files", len(checks.data_files(f"{out}/datasets")))
        with tracer.layer("operators.manifest"):
            manifest(counted).write.mode("overwrite").json(f"{out}/manifest")
            duplicate_warnings(counted).write.mode("overwrite").json(f"{out}/warnings")
        tracer.rows("operators.manifest", n_datasets)
        with tracer.layer("plans.lineage"):
            union_metrics(
                [
                    stage_metrics(triples, run_id, "parse"),
                    stage_metrics(ds_triples, run_id, "split"),
                    stage_metrics(counted, run_id, "datasets"),
                ]
            ).write.mode("overwrite").parquet(f"{out}/metrics")
        parsed.unpersist()
        counted.unpersist()
        distinct = self.exp["stats"]["distinct_statements_in_datasets"]
        tracer.extra("operators.split.dup_ratio", n_ds_statements / distinct)
        return {
            "n_statements": n_statements, "n_rejects": n_rejects, "n_datasets": n_datasets,
            "n_dataset_statements": n_ds_statements, "datasets_layout": layout,
        }


def _kg_outputs(spark, triples, canon, out: str, tracer) -> None:
    """``build_kg``'s output stage over already-computed ``triples`` and
    canonical map, all four outputs written."""
    from pyspark.sql import functions as F

    from bop_consus_importing_rdf_spark.functions.hashing import canonical_hash_agg
    from bop_consus_importing_rdf_spark.functions.ntriples import nt_line
    from bop_consus_importing_rdf_spark.kg.pipeline import PRED_MENTIONS
    from bop_consus_importing_rdf_spark.operators.manifest import manifest, with_counter
    from bop_consus_importing_rdf_spark.vocab import KG_NS

    with tracer.layer("kg.pipeline.outputs"):
        rendered = triples.withColumn(
            "nt",
            nt_line(
                F.col("subj"), F.col("pred"), F.col("obj_value"),
                F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
            ),
        )
        per_conv = rendered.groupBy("conv_id").agg(
            F.concat_ws("\n", F.array_sort(F.collect_list("nt"))).alias("nt_payload"),
            canonical_hash_agg("nt"),
            F.count(F.lit(1)).alias("n_triples"),
        )
        datasets = with_counter(
            per_conv.select(
                F.lit("transcripts").alias("catalogue"),
                F.concat(F.lit(KG_NS + "conv:"), F.col("conv_id")).alias("subj"),
                F.col("conv_id").alias("identifier"),
                "nt_payload", "content_hash", "n_triples",
            )
        )
        entities = (
            triples.filter(F.col("pred") == PRED_MENTIONS)
            .groupBy(F.col("obj_value").alias("canonical_id"))
            .agg(F.count(F.lit(1)).alias("n_mentions"))
            .join(
                canon.groupBy("canonical_id").agg(F.collect_set("entity_uri").alias("merged_uris")),
                "canonical_id", "left",
            )
        )
        outs = {"triples": triples, "entities": entities, "datasets": datasets, "manifest": manifest(datasets)}
        _write_kg(outs, out)


def _write_kg(outs: dict, out: str) -> None:
    for k in ("triples", "entities", "datasets", "manifest"):
        outs[k].write.mode("overwrite").parquet(os.path.join(out, k))


_TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj_value", "obj_kind", "obj_lang", "obj_datatype", "dataset_id"]


def _check_kg_outputs(out: str, exp: dict, problems: list[str]) -> None:
    checks.compare("triples", checks.parquet_rows(os.path.join(out, "triples"), _TRIPLE_COLS), exp["triples"], problems)
    cols = ["catalogue", "subj", "identifier", "nt_payload", "content_hash", "n_triples", "counter"]
    checks.compare("datasets", checks.parquet_rows(os.path.join(out, "datasets"), cols), exp["datasets"], problems)
    man = checks.parquet_rows(os.path.join(out, "manifest"), ["catalogue", "identifiers"])
    checks.compare("manifest", man, [(c, list(i)) for c, i in exp["manifest"]], problems)
    ent = [
        (c, n, sorted(m or []))
        for c, n, m in checks.parquet_rows(os.path.join(out, "entities"), ["canonical_id", "n_mentions", "merged_uris"])
    ]
    checks.compare("entities", ent, exp["entities"], problems)


class KG:
    """Common part of the two KG workloads: a generated transcript table
    and gazetteer, written as parquet."""

    def __init__(self, name, work, seed, n_entities, n_conv):
        self.name, self.seed = name, seed
        self.sizes = (n_entities, n_conv)
        d = os.path.join(work, "input")
        self.tr, self.al = os.path.join(d, "transcripts.parquet"), os.path.join(d, "aliases.parquet")

    def prepare(self) -> dict:
        n_entities, n_conv = self.sizes
        os.makedirs(os.path.dirname(self.tr), exist_ok=True)
        g = gen_kg.gazetteer(n_entities, self.seed)
        rows = gen_kg.transcripts(n_conv, g, self.seed)
        gen_kg.write_parquet(rows, g, self.tr, self.al)
        self.exp = gen_kg.expected(rows, g)
        self.input_rows = len(rows)
        return self.exp["stats"]

    def _read(self, spark):
        return spark.read.parquet(self.tr), spark.read.parquet(self.al)


class KGTranscripts(KG):
    """``plans.resume.run_resumable`` over a transcript table with a
    broadcast-scale gazetteer, at 4 buckets rather than job.py's default
    16: a bucket costs a near-fixed ~2.5 s of Spark jobs on a 4-vCPU host,
    so 16 buckets take 40 s or more a call, too long for the run budget."""

    N_BUCKETS = 4

    def run(self, spark, out: str) -> dict:
        from bop_consus_importing_rdf_spark.kg.mentions import pick_extraction_engine
        from bop_consus_importing_rdf_spark.plans.resume import run_resumable

        n = run_resumable(spark, *self._read(spark), out, n_buckets=self.N_BUCKETS)
        return {"buckets": n, "engine": pick_extraction_engine(spark)}

    def check(self, out: str, info: dict) -> list[str]:
        problems: list[str] = []
        got = checks.parquet_rows(os.path.join(out, "triples"), _TRIPLE_COLS)
        checks.compare("triples", got, self.exp["triples"], problems)
        committed = sorted(b for (b,) in checks.parquet_rows(os.path.join(out, "_committed"), ["bucket"]))
        dirs = sorted(int(d.split("=")[1]) for d in os.listdir(os.path.join(out, "triples")) if d.startswith("bucket="))
        if committed != dirs or len(committed) != info.get("buckets") or not committed:
            problems.append(f"commit markers {committed} vs bucket dirs {dirs}, {info.get('buckets')} processed")
        per_stage = {"transcripts_in": 0, "triples_out": 0}
        for stage, n in checks.parquet_rows(os.path.join(out, "lineage_metrics"), ["stage", "rows_out"]):
            per_stage[stage.split("/", 1)[1]] += n
        want = {"transcripts_in": self.exp["summary"]["turns_in"], "triples_out": self.exp["summary"]["triples"]}
        if per_stage != want:
            problems.append(f"lineage metrics: got {per_stage}, want {want}")
        return problems

    def baseline(self, spark, out: str) -> dict:
        """One ``build_kg`` over the whole corpus, four outputs written: what
        ``run_resumable`` costs without its per-bucket loop."""
        from bop_consus_importing_rdf_spark.kg.pipeline import build_kg

        _write_kg(build_kg(spark, *self._read(spark)), out)
        return {}

    def traced(self, spark, out: str, tracer) -> dict:
        """One ``build_kg`` (broadcast-scale branch) layer by layer, then the
        ``run_resumable`` loop as its own span."""
        from pyspark.sql import functions as F

        import bop_consus_importing_rdf_spark.kg.pipeline as kgp
        from bop_consus_importing_rdf_spark.kg.mentions import pick_extraction_engine
        from bop_consus_importing_rdf_spark.plans.resume import run_resumable
        from bop_consus_importing_rdf_spark.vocab import KG_NS

        transcripts, aliases = self._read(spark)
        with tracer.layer("kg.pipeline.stable_turns"):
            turns = kgp.stable_turns(transcripts).persist()
            n_turns = turns.count()
        tracer.rows("kg.pipeline.stable_turns", n_turns)
        with tracer.layer("kg.pipeline.canonicalize"):
            canon = kgp.canonical_entity_map(aliases)
            mapping = dict(canon.collect())
            best = kgp.best_alias_map(aliases)
        merged = sum(1 for u, c in mapping.items() if u != c)
        tracer.rows("kg.pipeline.canonicalize", len(mapping))
        tracer.extra("kg.pipeline.canonicalize.merged", merged)
        with tracer.layer("kg.pipeline.extract"):
            engine = pick_extraction_engine(spark)
            composed = {a: mapping.get(e, e) for a, e in best.items()}
            triples = kgp.extract_candidate_triples(
                turns, aliases, sorted(best), entity_map=composed, engine=engine
            ).withColumn("dataset_id", F.concat(F.lit(KG_NS + "conv:"), F.col("conv_id"))).persist()
            n_triples = triples.count()
        tracer.rows("kg.pipeline.extract", n_triples)
        _kg_outputs(spark, triples, canon, os.path.join(out, "build_kg"), tracer)
        tracer.rows("kg.pipeline.outputs", n_triples)
        turns.unpersist()
        triples.unpersist()

        calls = []
        real_build_kg = kgp.build_kg

        def counting_build_kg(*a, **kw):
            calls.append(1)
            return real_build_kg(*a, **kw)

        kgp.build_kg = counting_build_kg
        try:
            with tracer.layer("plans.resume"):
                n = run_resumable(spark, transcripts, aliases, os.path.join(out, "resume"), n_buckets=self.N_BUCKETS)
        finally:
            kgp.build_kg = real_build_kg
        tracer.rows("plans.resume", n_triples)
        tracer.extra("plans.resume.buckets", n)
        tracer.extra("plans.resume.build_kg_calls", len(calls))
        return {"buckets": n, "engine": engine}

    def check_traced(self, out: str, info: dict) -> list[str]:
        problems = self.check(os.path.join(out, "resume"), info)
        _check_kg_outputs(os.path.join(out, "build_kg"), self.exp, problems)
        return problems


class KGGazetteer(KG):
    """One ``kg.pipeline.build_kg`` call, four outputs written, with a
    gazetteer above its broadcast threshold. The threshold is passed as
    ``small_dim_threshold``, lowered from the 50k-row default so that a call
    fits the run budget; the at-scale branch it selects is the same."""

    def __init__(self, name, work, seed, n_entities, n_conv, threshold):
        super().__init__(name, work, seed, n_entities, n_conv)
        self.threshold = threshold

    def run(self, spark, out: str) -> dict:
        from bop_consus_importing_rdf_spark.kg.pipeline import build_kg

        _write_kg(build_kg(spark, *self._read(spark), small_dim_threshold=self.threshold), out)
        # past the threshold build_kg extracts with the join matcher; no
        # regex engine is picked
        return {"branch": "at-scale" if self.exp["stats"]["gazetteer_rows"] > self.threshold else "broadcast"}

    def check(self, out: str, info: dict) -> list[str]:
        problems: list[str] = []
        _check_kg_outputs(out, self.exp, problems)
        return problems

    check_traced = check

    def traced(self, spark, out: str, tracer) -> dict:
        """``build_kg``'s at-scale branch layer by layer."""
        from pyspark.sql import functions as F

        import bop_consus_importing_rdf_spark.kg.pipeline as kgp
        from bop_consus_importing_rdf_spark.kg.blocking import entity_profiles
        from bop_consus_importing_rdf_spark.operators.dedup import (
            char_shingles,
            lsh_candidate_pairs,
            minhash_signature,
        )
        from bop_consus_importing_rdf_spark.vocab import KG_NS

        transcripts, aliases = self._read(spark)
        with tracer.layer("kg.pipeline.stable_turns"):
            turns = kgp.stable_turns(transcripts).persist()
            n_turns = turns.count()
        tracer.rows("kg.pipeline.stable_turns", n_turns)
        with tracer.layer("kg.pipeline.canonicalize"):
            small = len(aliases.take(self.threshold + 1)) <= self.threshold
            canon = kgp.canonical_entity_map(aliases, self.threshold, small=small).persist()
            n_entities = canon.count()
        tracer.rows("kg.pipeline.canonicalize", n_entities)
        # blocking's counts, outside every layer span: candidate pairs from
        # the same LSH parameters entity_similarity_edges uses, and the
        # verified edges among them
        with tracer.probe():
            merged = canon.filter(F.col("entity_uri") != F.col("canonical_id")).count()
            sh = char_shingles(entity_profiles(aliases), "entity_uri", "profile", 3)
            n_cand = lsh_candidate_pairs(minhash_signature(sh, 8), 4, 2, max_bucket=4096).count()
            n_edges = kgp.entity_similarity_edges(aliases).count()
        tracer.extra("kg.pipeline.canonicalize.merged", merged)
        tracer.extra("kg.pipeline.canonicalize.candidates", n_cand)
        tracer.extra("kg.pipeline.canonicalize.edges", n_edges)
        tracer.extra("kg.pipeline.canonicalize.edges_per_candidate", n_edges / n_cand if n_cand else 0.0)
        with tracer.layer("kg.pipeline.extract"):
            raw = kgp.extract_candidate_triples_join(turns, aliases).persist()
            n_raw = raw.count()
        tracer.rows("kg.pipeline.extract", n_raw)
        with tracer.layer("kg.pipeline.rewrite"):
            triples = (
                kgp.rewrite_canonical(raw, canon)
                .withColumn("dataset_id", F.concat(F.lit(KG_NS + "conv:"), F.col("conv_id")))
                .persist()
            )
            n_triples = triples.count()
        tracer.rows("kg.pipeline.rewrite", n_triples)
        _kg_outputs(spark, triples, canon, out, tracer)
        tracer.rows("kg.pipeline.outputs", n_triples)
        for df in (turns, canon, raw, triples):
            df.unpersist()
        return {"small_branch": small}


def make(name: str, work: str, seed: int, size: str):
    """Workload ``name`` at ``size`` ("full", or "tiny" for the smoke test)."""
    tiny = size == "tiny"
    if name == "harvest_large":
        return Harvest(name, work, seed, 300 if tiny else 21_000)
    if name == "harvest_small":
        return Harvest(name, work, seed, 60 if tiny else 2_000)
    if name == "kg_transcripts":
        return KGTranscripts(name, work, seed, 200 if tiny else 250, 40 if tiny else 1_000)
    if name == "kg_gazetteer":
        # 10,000 entities draw ~10,600 gazetteer rows, past the threshold
        return KGGazetteer(name, work, seed, 300 if tiny else 10_000, 40 if tiny else 300, 200 if tiny else 10_000)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("harvest_large", "harvest_small", "kg_transcripts", "kg_gazetteer")
