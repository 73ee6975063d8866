"""The workloads.  Each is a closed loop with one client: one pass
runs only after the previous pass and its checks have finished.

A workload exposes ``ops_per_pass``, ``max_passes``, ``before_pass(i)``
(untimed), ``run_pass(i)`` (timed), ``check(i, out)`` (untimed; returns
the number of failed operations, a raise fails them all) and
``finish(out)`` (untimed final checks on the last pass's output).
"""

from __future__ import annotations

import functools
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import checks

HERE = os.path.dirname(os.path.abspath(__file__))

# Catalog entries timed by the ``catalog`` workload.  Construction-heavy
# entries (eager jobs before the timed action) next to execution-heavy
# and cheap relational ones; item-2 entries get per-entry build metrics.
CATALOG_ENTRIES = [
    "dedup_clusters",
    "kmeans_audit",
    "packed_input_ids",
    "pricing_summary",
    "sessionize",
]
PER_ENTRY = ["dedup_clusters", "kmeans_audit", "packed_input_ids"]
CATALOG_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


class Train:
    """Part of ``pipelines``.  The paper's job: Prod2VecPipeline's four
    stages in run()'s order."""

    ops_per_pass = 1
    max_passes = 50

    def __init__(self, spark, inputs, seed, tracer, work):
        from prod2vec_spark.pipeline import PipelineConfig

        self.spark, self.tracer, self.work = spark, tracer, work
        self.cfg = lambda i: PipelineConfig(sf_dir=inputs["sf_dir"], work_dir=f"{work}/pass{i}")

    def before_pass(self, i):
        pass

    def run_pass(self, i):
        from prod2vec_spark.pipeline import Prod2VecPipeline

        cfg = self.cfg(i)
        pipe = Prod2VecPipeline(self.spark, cfg)
        span = self.tracer.span
        with span("pipeline.preprocess", i):
            staged = pipe.preprocess()
        with span("pipeline.quality_gates", i):
            pipe.quality_gates()
        with span("ml.train_or_tune", i):
            model = pipe.train_or_tune(staged)
        with span("pipeline.postprocess", i):
            out = pipe.postprocess(model, staged)
        return out, model, staged["vocab"], cfg

    def check(self, i, res):
        from prod2vec_spark.ml.prod2vec import embedding_table

        out, model, vocab, cfg = res
        rows = [r.asDict() for r in out.collect()]
        model_ids = {r["product_id"] for r in embedding_table(model).select("product_id").collect()}
        probe_ids = {r["product_id"] for r in vocab.select("product_id").collect()}
        checks.check_neighbors(rows, model_ids, probe_ids, cfg.n_probe_products, cfg.top_k)
        return 0

    def finish(self, res):
        return 0


class Curation:
    """Part of ``pipelines``.  The composed LLM-curation DAG, default
    CorpusConfig."""

    ops_per_pass = 1
    max_passes = 50

    def __init__(self, spark, inputs, seed, tracer, work):
        self.spark, self.inputs, self.tracer, self.work = spark, inputs, tracer, work
        rec = load_expected()["curation"]
        self.expected = rec["counts"] if seed == rec["seed"] else None
        self.stage_ms: dict[int, dict[str, int]] = {}

    def before_pass(self, i):
        pass

    def run_pass(self, i):
        from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline

        pipe = CorpusCurationPipeline(
            self.spark, CorpusConfig(sf_dir=self.inputs["sf_dir"], work_dir=f"{self.work}/pass{i}")
        )
        with self.tracer.span("pipeline_llm.run", i):
            return pipe.run()

    def check(self, i, report):
        counts = {r["stage"]: r["n"] for r in report.collect()}
        self.stage_ms[i] = {k[len("t_ms_"):]: v for k, v in counts.items() if k.startswith("t_ms_")}
        checks.check_curation(counts, self.inputs["docs"], self.expected)
        return 0

    def finish(self, res):
        return 0


class Catalog:
    """Catalog entries at sf0.01, seed-shuffled; each built with
    ``QUERIES[name](spark, sf)`` and forced with a noop write.  Reads
    only: it writes no checkpoint."""

    max_passes = 50

    def __init__(self, spark, inputs, seed, tracer, work):
        from inputs import catalog_order

        self.spark, self.sf, self.tracer = spark, inputs["sf_dir"], tracer
        self.order = catalog_order(CATALOG_ENTRIES, seed)
        self.ops_per_pass = len(self.order)

    def before_pass(self, i):
        pass

    def run_pass(self, i):
        from prod2vec_spark.queries import QUERIES

        built, failed = {}, 0
        for name in self.order:
            try:
                with self.tracer.span("queries.build", i, name):
                    df = QUERIES[name](self.spark, self.sf)
                with self.tracer.span("queries.exec", i, name):
                    df.write.format("noop").mode("overwrite").save()
                built[name] = df
            except Exception as e:  # one failed query is one failed op
                print(f"catalog {name}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr, flush=True)
                failed += 1
        return built, failed

    def check(self, i, res):
        return res[1]

    def finish(self, res):
        """Oracle parity of the last pass's frames (rows, schema, values)."""
        import duckdb

        from prod2vec_spark.queries import ORACLES

        built, _ = res
        con = duckdb.connect()
        for t in CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        failed = 0
        for name, df in built.items():
            try:
                checks.compare_frames(df.toPandas(), con.execute(ORACLES[name]).fetchdf())
            except Exception as e:
                print(f"catalog {name} oracle: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr, flush=True)
                failed += 1
        con.close()
        return failed


class Stream:
    """Part of ``pipelines``.  StreamingCorpusPipeline (line filter +
    token stats) over seeded document waves; one pass = land one wave,
    drain it with ``run()``, then ``curated().count()``."""

    ops_per_pass = 1

    def __init__(self, spark, inputs, seed, tracer, work):
        self.spark, self.inputs, self.tracer, self.work = spark, inputs, tracer, work
        self.waves = inputs["waves"]
        self.max_passes = len(self.waves)
        self.pipe = self._pipeline(inputs["landing"], f"{work}/stream")
        self.landed: list[str] = []
        self.landed_ids: set = set()
        self.prev = 0

    def _pipeline(self, landing, work_dir):
        from prod2vec_spark.streaming.pipeline import StreamCorpusConfig, StreamingCorpusPipeline

        cfg = StreamCorpusConfig(landing_dir=landing, work_dir=work_dir, line_filter=True, token_stats=True)
        return StreamingCorpusPipeline(self.spark, cfg)

    def before_pass(self, i):
        wave = self.waves[i]
        dst = os.path.join(self.inputs["landing"], os.path.basename(wave["path"]))
        os.rename(wave["path"], dst)  # atomic: a drain never sees half a file
        self.landed.append(dst)
        self.landed_ids.update(wave["ids"])

    def run_pass(self, i):
        with self.tracer.span("streaming.drain", i):
            self.pipe.run()
        with self.tracer.span("streaming.curated", i):
            return self.pipe.curated().count()

    def check(self, i, n):
        checks.check_stream_drain(n, self.prev, len(self.landed_ids))
        self.prev = n
        return 0

    def finish(self, res):
        ids = [r["doc_id"] for r in self.pipe.curated().select("doc_id").collect()]
        one = f"{self.work}/one_wave"
        os.makedirs(f"{one}/landing")
        table = pa.concat_tables([pq.read_table(p) for p in self.landed])
        pq.write_table(table, f"{one}/landing/all.parquet", row_group_size=max(1, table.num_rows))
        ref = self._pipeline(f"{one}/landing", f"{one}/w")
        ref.run()
        checks.check_stream_final(ids, self.landed_ids, ref.curated().count())
        return 0


class Pipelines:
    """The three checkpoint-writing pipelines in one pass: Train, then
    Curation, then one Stream wave.  A part that raises fails the pass's
    operations; a part that fails its check fails its own."""

    def __init__(self, spark, inputs, seed, tracer, work):
        self.parts = [
            Train(spark, inputs["train"], seed, tracer, f"{work}/train"),
            Curation(spark, inputs["curation"], seed, tracer, f"{work}/curation"),
            Stream(spark, inputs["stream"], seed, tracer, f"{work}/stream"),
        ]
        self.stage_ms = self.parts[1].stage_ms
        self.ops_per_pass = sum(p.ops_per_pass for p in self.parts)
        self.max_passes = min(p.max_passes for p in self.parts)

    def before_pass(self, i):
        for p in self.parts:
            p.before_pass(i)

    def run_pass(self, i):
        return [p.run_pass(i) for p in self.parts]

    def _each(self, calls) -> int:
        failed = 0
        for part, call in zip(self.parts, calls):
            try:
                failed += call()
            except Exception as e:
                print(f"{type(part).__name__}: {type(e).__name__}: {e}", file=sys.stderr, flush=True)
                failed += part.ops_per_pass
        return failed

    def check(self, i, outs):
        return self._each([functools.partial(p.check, i, o) for p, o in zip(self.parts, outs)])

    def finish(self, outs):
        return self._each([functools.partial(p.finish, o) for p, o in zip(self.parts, outs)])


WORKLOADS = {"pipelines": Pipelines, "catalog": Catalog}
