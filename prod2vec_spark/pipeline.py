"""Config-driven pipeline runner (SURVEY.md §2.11 G1): the engine's
replacement for the reference's Airflow DAG + SageMaker dispatch
(/root/reference/dags/prod2vec_train_dag.py:194-283).

Stage graph (same shape as the reference's DAG):

    preprocess → quality_gates → [tune | train] → postprocess

Stage handoff is parquet checkpoints under ``work_dir`` — the engine
equivalent of the reference's every-task-rereads-S3 pattern, but
columnar and resumable.  Each hand-off is ``sources/io.checkpoint``:
the read-back reuses the written schema, so no stage re-infers it
from parquet footers.  The branch (tune vs train) is plain Python —
Airflow's BranchPythonOperator collapses to an ``if`` (G2: the
SageMaker process boundary disappears entirely; training is an
in-cluster MLlib fit).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod2vec_spark.ml.prod2vec import (
    Prod2VecParams,
    embedding_table,
    enrich_embeddings,
    fit_prod2vec,
    load_model,
    neighbor_name_report,
    save_model,
    top_k_similar,
)
from prod2vec_spark.ml.tuning import grid_tune, tuning_report
from prod2vec_spark.operators.baskets import assemble_baskets, build_vocab
from prod2vec_spark.operators.quality import Rules, assert_suite
from prod2vec_spark.operators.skipgram import skipgram_pairs_array
from prod2vec_spark.sources.io import checkpoint, read_table, write_parquet


@dataclass
class PipelineConfig:
    """Mirrors config/prod2vec_config.yaml of the reference."""

    sf_dir: str
    work_dir: str
    num_prods: int = 201  # vocab size incl. UNK (yaml:25 at testdata scale)
    window_size: int = 4  # yaml:26
    num_ns: int = 4  # yaml:27
    max_basket_length: int = 50  # yaml:28
    run_hyperparameter_opt: bool = False  # DAG branch (yaml:46)
    tune_strategy: str = "grid"  # "grid" | "random" | "tpe" (seeded TPE-lite)
    tune_n_trials: int = 4  # random-search budget (reference: 5 jobs)
    tune_dims: list[int] = field(default_factory=lambda: [16, 32])
    tune_lrs: list[float] = field(default_factory=lambda: [0.025, 0.1])
    train: Prod2VecParams = field(default_factory=lambda: Prod2VecParams(vector_size=32, max_iter=2))
    top_k: int = 10
    n_probe_products: int = 5


class Prod2VecPipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self._tables: dict[tuple[str, str], DataFrame] = {}  # _table cache

    def _table(self, name: str) -> DataFrame:
        """``read_table`` once per (sf_dir, table) on this instance, so
        the stages share one open (one footer inference) per table."""
        key = (self.cfg.sf_dir, name)
        if key not in self._tables:
            self._tables[key] = read_table(self.spark, *key)
        return self._tables[key]

    # -- stage 1: E1 preprocess (data_prep.py:237-318 equivalent) ------
    def preprocess(self) -> dict[str, DataFrame]:
        li = self._table("lineitem")
        wd = self.cfg.work_dir
        baskets = checkpoint(
            assemble_baskets(li, max_len=self.cfg.max_basket_length), f"{wd}/baskets"
        )
        vocab = checkpoint(build_vocab(li, num_prods=self.cfg.num_prods), f"{wd}/vocab")
        # pairs expand the written baskets instead of grouping lineitem again
        pairs = checkpoint(
            skipgram_pairs_array(baskets, self.cfg.window_size), f"{wd}/pairs"
        )
        return {"baskets": baskets, "vocab": vocab, "pairs": pairs}

    # -- stage 2: Q1-Q5 gates (data_quality_checks.py:136-189) ---------
    def quality_gates(self) -> None:
        assert_suite(
            [
                (
                    self._table("lineitem"),
                    Rules(
                        not_null=["l_orderkey", "l_partkey"],
                        distinct_between={"l_partkey": (1.0, 1e9)},
                        row_count_between=(1.0, 1e12),
                    ),
                ),
                (
                    self._table("part"),
                    Rules(not_null=["p_partkey"], unique_key=["p_partkey"], column_count=6),
                ),
            ]
        )

    # -- stage 3: train or tune (branch, DAG :215-219) ------------------
    def train_or_tune(self, staged: dict[str, DataFrame]):
        """Returns the trained (or best-tuned) model, persisted first:
        the model is a checkpoint exactly like every DataFrame stage
        (S6/S7 — reference saves at model_train.py:131 and reloads at
        post_process.py:85-89), so postprocess can resume from disk
        without retraining (see ``resume_postprocess``)."""
        if self.cfg.run_hyperparameter_opt:
            # work_dir => every trial model spills to the S7 sink and
            # only the winner is reloaded (no driver-held model dict)
            if self.cfg.tune_strategy == "random":
                from prod2vec_spark.ml.tuning import random_search_tune

                results, best = random_search_tune(
                    staged["baskets"],
                    staged["pairs"],
                    n_trials=self.cfg.tune_n_trials,
                    base=self.cfg.train,
                    work_dir=self.cfg.work_dir,
                )
            elif self.cfg.tune_strategy == "tpe":
                from prod2vec_spark.ml.tuning import tpe_tune

                results, best = tpe_tune(
                    staged["baskets"],
                    staged["pairs"],
                    n_trials=self.cfg.tune_n_trials,
                    base=self.cfg.train,
                    work_dir=self.cfg.work_dir,
                )
            else:
                results, best = grid_tune(
                    staged["baskets"],
                    staged["pairs"],
                    dims=self.cfg.tune_dims,
                    lrs=self.cfg.tune_lrs,
                    base=self.cfg.train,
                    work_dir=self.cfg.work_dir,
                )
            write_parquet(tuning_report(results), f"{self.cfg.work_dir}/tuning_results")
            # M7: objective-vs-hyperparameter PNGs (plot_helpers.py:12-63)
            from prod2vec_spark.ml.plots import save_tuning_plots

            save_tuning_plots(results, f"{self.cfg.work_dir}/plots")
            model = best["model"]
        else:
            model = fit_prod2vec(staged["baskets"], self.cfg.train)
        # this run keeps the model in hand; the saved copy is what
        # resume_postprocess reloads
        save_model(model, self.model_path)
        return model

    @property
    def model_path(self) -> str:
        return f"{self.cfg.work_dir}/model"

    # -- stage 4: postprocess (post_process.py:14-103) -------------------
    def postprocess(self, model, staged: dict[str, DataFrame]) -> DataFrame:
        part = self._table("part")
        vectors = embedding_table(model)
        enriched = enrich_embeddings(vectors, part)
        write_parquet(
            enriched.select("product_id", "product_name", F.col("vector").cast("string").alias("vector_str")),
            f"{self.cfg.work_dir}/embeddings_out",
        )
        probe_ids = [
            r["product_id"]
            for r in staged["vocab"]
            .filter(F.col("idx").between(1, self.cfg.n_probe_products))
            .select("product_id")
            .collect()
        ]
        topk = top_k_similar(vectors, probe_ids, k=self.cfg.top_k)
        neighbors = enrich_embeddings(
            topk.withColumnRenamed("neighbor_id", "product_id"), part
        ).select(
            "query_id",
            F.col("product_id").alias("neighbor_id"),
            "product_name",
            F.round("cosine_sim", 6).alias("cosine_sim"),
            "rank",
        )
        persisted = checkpoint(neighbors, f"{self.cfg.work_dir}/neighbors")
        # F9: per-query '; '-joined neighbor names (model_train.py:48)
        write_parquet(
            neighbor_name_report(persisted), f"{self.cfg.work_dir}/neighbor_report"
        )
        return persisted

    # -- resumable postprocess-only run ----------------------------------
    def resume_postprocess(self) -> DataFrame:
        """Train-now-serve-later: rebuild stage 4 purely from disk
        checkpoints (staged parquet + saved model) — no preprocess, no
        quality gates, no fit.  This is the engine twin of the
        reference's post-processing task, which starts from S3
        artifacts only (post_process.py:41-89)."""
        staged = {
            name: self.spark.read.parquet(f"{self.cfg.work_dir}/{name}")
            for name in ["baskets", "vocab", "pairs"]
        }
        model = load_model(self.spark, self.model_path)
        return self.postprocess(model, staged)

    # -- full DAG ---------------------------------------------------------
    def run(self) -> DataFrame:
        staged = self.preprocess()
        self.quality_gates()
        model = self.train_or_tune(staged)
        return self.postprocess(model, staged)
