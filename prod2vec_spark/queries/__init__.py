"""Query catalog: every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable plus a matched DuckDB oracle SQL.

Each family module registers its queries into ``ALL_QUERIES`` /
``ALL_ORACLES`` (``common.register``) where it defines them:

  * ``relational`` — scans, aggregates, pivot and cube, joins,
    windows, a union, events JSON and sessions, and mergeable
    sketches;
  * ``quality``    — data-quality expectation gates;
  * ``embeddings`` — baskets, vocabulary, skip-gram, Word2Vec, KMeans;
  * ``text``       — text profiles, quality / language / line gates,
    PII, URL domains and corpus drift;
  * ``dedup``      — exact, MinHash/LSH, graph, span, segment and
    semantic dedup, decontamination;
  * ``retrieval``  — exact and approximate ANN, BM25 / QL / RM3,
    hybrid fusion and diversity re-ranking;
  * ``lm``         — n-gram language models, tokenizers, chunking and
    packing;
  * ``sampling``   — mixing, weighted / stratified sampling, splits,
    shuffles and data selection;
  * ``media``      — image, audio and video hashes, spans and codecs.

Contract (driver): the Spark result and the oracle result must agree on
row count, schema and an order-insensitive value hash at sf=0.01.
Conventions used to make two engines hash-identically:
  * every computed column is explicitly aliased on both sides;
  * doubles that aggregate many rows are rounded (or summed as
    decimal then cast) so partition-order float drift can't surface;
  * arrays are emitted as ','-joined strings (engines render native
    arrays differently);
  * ranks/indices are cast to INT on the DuckDB side (its row_number
    is BIGINT, Spark's is INT);
  * all pseudo-randomness is md5-derived (functions/hashing.py) so the
    oracle replays the identical stream.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from prod2vec_spark.queries import (  # noqa: F401  (imported to register)
    dedup,
    embeddings,
    lm,
    media,
    quality,
    relational,
    retrieval,
    sampling,
    text,
)
from prod2vec_spark.queries.common import ALL_ORACLES, ALL_QUERIES, QueryFn

# Driver-facing catalog: exactly the entries the correctness driver
# checks (its artifact caps at 50), every one oracled.  Each operator
# family keeps at least one entry here (tests/test_coverage_matrix.py);
# the rest of ALL_QUERIES stays under tests/test_oracle_parity.py.
CATALOG: list[str] = [
    "dsir_select", "hybrid_rrf_topk", "epoch_shuffle_audit",
    "leakage_safe_split", "temperature_mix", "neardup_editdist",
    "segment_dedup_stats", "bm25_topk", "canonical_pick",
    "webp_crosscodec_neardup", "phash_neardup", "audio_neardup",
    "thumbnail_audit", "mmr_diverse_topk", "compression_profile",
    "kn5m_perplexity", "media_format_audit", "badwords_gate",
    "decontaminate_fuzzy",
    "audio_span_audit", "packed_wordpiece_ids",
    "url_canonical_groups", "image_span_audit",
    "verbatim_span_pairs",
    "doc_repetition",
    "semdedup_audit", "pii_scrub",
    "packed_input_ids",
    "heavy_hitters",
    "bloom_blocklist",
    "word2vec_neighbors", "kmeans_audit",
    "ann_ivfpq_topk",
    "dq_suite", "distinct_parts",
    "pricing_summary", "baskets", "vocab", "index_items",
    "skipgram_stats", "negative_sampling_stats",
    "cube_pricing",
    "revenue_topk",
    "asof_latest_event", "range_join_bands",
    "dedup_clusters", "quality_filter", "embedding_neardup",
    "ann_ivf_topk",
    "sessionize",
]
# import-time guards (explicit raise, NOT assert: asserts vanish under
# python -O and the driver catalog must stay guarded in optimized runs)
if len(CATALOG) != 50:
    raise ValueError(f"driver catalog must be exactly 50, got {len(CATALOG)}")
if not set(CATALOG) <= set(ALL_QUERIES):
    raise ValueError(
        f"catalog entries missing implementations: "
        f"{sorted(set(CATALOG) - set(ALL_QUERIES))}"
    )

QUERIES: dict[str, QueryFn] = {k: ALL_QUERIES[k] for k in CATALOG}
ORACLES: dict[str, str] = {
    k: ALL_ORACLES[k] for k in CATALOG if k in ALL_ORACLES
}


def register_query_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """SQL surface for the catalog: register driver-catalog queries as
    temp views named ``q_<catalog_name>``, so users can
    ``spark.sql("SELECT * FROM q_vocab")`` any operator the engine
    ships.  Most entries are pure plan definitions (nothing executes
    until queried, and Catalyst optimizes straight through them — a
    filter composed on top in SQL pushes into the underlying parquet
    scan exactly as in the DataFrame form).  The ML-backed audits
    (word2vec_neighbors, kmeans_audit) and the checkpointing audits
    (ann_recall, minhash_jaccard_audit) do their model fit /
    materialization at DEFINITION time — pass ``names`` to register a
    subset when that cost is unwanted.  ``names`` may reference ANY
    superset query (including entries retired from the driver
    catalog); the default registers exactly the driver catalog."""
    todo = list(QUERIES) if names is None else names
    out = []
    for name in todo:
        ALL_QUERIES[name](spark, sf_dir).createOrReplaceTempView(f"q_{name}")
        out.append(f"q_{name}")
    return out
