"""The registry every query module registers into, plus the SQL and
Column fragments, constants, fixture paths and synthetic-corpus
builders that more than one query family shares.

DuckDB syntax notes baked into the oracles:
  * regexp_replace needs the 'g' flag (Spark's is global by default);
  * list_reduce has no init — prepend the neutral element;
  * list folds use list_reduce (strict left fold) wherever Spark uses
    ``aggregate``, so float accumulation matches bit-for-bit;
  * len()/count() are BIGINT — cast to INT where Spark emits int.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

# superset registry: every implemented query, keyed by its name
ALL_QUERIES: dict[str, QueryFn] = {}
ALL_ORACLES: dict[str, str] = {}


def register(fn: QueryFn, oracle: str | None = None) -> None:
    """Register ``q_<name>`` as query ``<name>`` with its DuckDB oracle
    SQL (``None`` for the rows-only entries).  A name registered twice
    raises instead of letting one module shadow another."""
    name = fn.__name__.removeprefix("q_")
    if name == fn.__name__:
        raise ValueError(f"query function {fn.__name__!r} must be named q_<name>")
    if name in ALL_QUERIES:
        raise ValueError(f"query {name!r} registered twice")
    ALL_QUERIES[name] = fn
    if oracle is not None:
        ALL_ORACLES[name] = oracle


# --------------------------------------------------------- fixture paths
_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)


def fixture_path(name: str) -> str:
    """Absolute path of a committed fixture; the media oracles embed it
    in DuckDB ``read_parquet`` calls."""
    return os.path.join(_FIXTURES, name)


def _phash_pair_fixture(name: str) -> str:
    return fixture_path(f"phash_pairs_{name}.parquet")


_image_fixture_path = partial(fixture_path, "image_tiles.parquet")
_audio_fixture_path = partial(fixture_path, "audio_windows.parquet")
_video_vhash_fixture_path = partial(fixture_path, "video_vhash.parquet")
_video_frames_fixture_path = partial(fixture_path, "video_frames.parquet")
_media_format_fixture_path = partial(fixture_path, "media_formats.parquet")


# ------------------------------------------------ text / MinHash fragments
_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

_SQL_SHINGLES3 = f"""
sh3 AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))
"""

_SQL_MINHASH = """
hs AS (
  SELECT doc_id,
         list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h1,
         list_transform(sh, x -> ('0x' || substr(md5(x), 9, 8))::BIGINT) AS h2
  FROM sh3 WHERE len(sh) > 0),
mh AS (
  SELECT doc_id,
         list_min(list_transform(generate_series(1, len(h1)), i -> (h1[i] + 0 * h2[i]) % 2147483647)) AS mh0,
         list_min(list_transform(generate_series(1, len(h1)), i -> (h1[i] + 1 * h2[i]) % 2147483647)) AS mh1,
         list_min(list_transform(generate_series(1, len(h1)), i -> (h1[i] + 2 * h2[i]) % 2147483647)) AS mh2,
         list_min(list_transform(generate_series(1, len(h1)), i -> (h1[i] + 3 * h2[i]) % 2147483647)) AS mh3,
         list_min(list_transform(generate_series(1, len(h1)), i -> (h1[i] + 4 * h2[i]) % 2147483647)) AS mh4,
         list_min(list_transform(generate_series(1, len(h1)), i -> (h1[i] + 5 * h2[i]) % 2147483647)) AS mh5,
         list_min(list_transform(generate_series(1, len(h1)), i -> (h1[i] + 6 * h2[i]) % 2147483647)) AS mh6,
         list_min(list_transform(generate_series(1, len(h1)), i -> (h1[i] + 7 * h2[i]) % 2147483647)) AS mh7
  FROM hs),
bands AS (
  SELECT doc_id, 0 AS band_id, md5(concat_ws('|', mh0, mh1, mh2, mh3)) AS band_sig FROM mh
  UNION ALL
  SELECT doc_id, 1 AS band_id, md5(concat_ws('|', mh4, mh5, mh6, mh7)) AS band_sig FROM mh)
"""

LSH_MAX_GROUP = 64  # degenerate-band cap: a hot signature group above
# this expands quadratically and is an exact-dup cluster in disguise


# --------------------------------------------------- vector fragments
EMB_DIMS = 64

# dot/norms as strict left folds (list_reduce) to match Spark's
# aggregate() accumulation order bit-for-bit.  Vectors are unit-scaled
# ONCE per row (same as simsearch._with_unit) so the per-pair formula
# is a single dot product — the oracle mirrors the normalize-then-dot
# arithmetic exactly, not just the mathematical value.
_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
)
_L2 = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform({a}, x -> x::DOUBLE * x::DOUBLE)), (x, y) -> x + y))"
)
_UNIT = (
    "list_transform({a}, x -> x::DOUBLE / nullif(" + _L2 + ", 0))"
)
_NSIM = "(" + _DOT.format(a="qn", b="nvec") + ")"


# ------------------------------------------------ retrieval / tokenizer
BM25_K = 10
BM25_QUERIES: list[tuple[str, list[str]]] = [
    ("q_spark", ["spark", "table"]),
    ("q_scan", ["scan", "filter", "slow"]),
    ("q_stream", ["stream", "window", "batch"]),
]

# Fixed literal merge table: the contract under test is the ENCODER
# (train_bpe is pytest-certified separately) — a static table is what
# lets DuckDB replay the identical replace chain.
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("e", "r"), ("i", "n"),
    ("a", "n"), ("an", "d"), ("o", "n"), ("the", "▁"),
]

# the md5 "lm" train split every n-gram LM query fits on
LM_TRAIN_FRAC = 0.8
KN_DISCOUNT = 0.75

# documents.doc_id -> synthetic url, host and registrable domain
_SQL_URL_STAGE = """
u AS (SELECT doc_id, text,
        ('0x' || substr(md5('url|' || doc_id), 1, 8))::BIGINT % 100 AS d
      FROM documents),
uu AS (SELECT doc_id, text,
         'https://www.site' || CAST(floor(d * d / 400.0) AS BIGINT)
           || '.' || (['com','org','net'])[CAST(d % 3 AS INT) + 1]
           || CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
           || '/doc/' || doc_id AS url
       FROM u),
h AS (SELECT doc_id, text, url,
        lower(nullif(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1), ''))
          AS host
      FROM uu),
dom AS (SELECT doc_id, text, url, host,
          CASE WHEN len(str_split(host, '.')) <= 2 THEN host
               ELSE str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1]
          END AS domain
        FROM h)
"""


# ------------------------------------------------- synthetic corpora
def amplify_documents(docs, factor: int = 10, exact_replicas: int = 2):
    """Scale-stress corpus synthesis: blow the
    documents table up ``factor``x with a row-local explode — no new
    fixtures, no shuffle.

    Replica semantics per source doc (replica r in [0, factor)):
      * r < ``exact_replicas``: text kept VERBATIM — an exact-dup
        group the digest pass must collapse;
      * r >= ``exact_replicas``: a per-replica salt token appended —
        a near-dup (high-Jaccard) variant the LSH+CC pass must
        cluster, but exact dedup must NOT collapse.

    New doc_id = doc_id * factor + r, so the source doc is recoverable
    as doc_id div factor and ids stay unique.  The result is a corpus
    whose near-dup cluster structure is known by construction:
    (factor - exact_replicas + 1) surviving variants per distinct
    source text, all mutually near-identical."""
    r = F.col("replica")
    return (
        docs.select(
            "doc_id",
            "text",
            "lang",
            F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("replica"),
        )
        .select(
            (F.col("doc_id") * factor + r).cast("long").alias("doc_id"),
            F.when(r < exact_replicas, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" variant"), r.cast("string")))
            .alias("text"),
            "lang",
        )
    )


_SD_DISCLAIMER = "This content is provided for informational purposes only."
_SD_PROMO = "Subscribe to our newsletter for weekly updates!"


def sentence_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, text) with REAL sentences: two trimmed 40-char
    substring sentences from the document's own text, a disclaimer
    planted on doc_id % 3 == 0 and a promo on doc_id % 5 == 0 — the
    deterministic cross-document boilerplate the sentence screen
    exists to remove.  Row-local; the identical expression replays in
    DuckDB (see _SQL_SENT_CORPUS)."""
    base = F.coalesce(F.col("text"), F.lit(""))
    s1 = F.trim(F.substring(base, 1, 40))
    s2 = F.trim(F.substring(base, 41, 40))
    parts = F.array(
        F.when(s1 != "", F.concat(s1, F.lit("."))),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_SD_DISCLAIMER)),
        F.when(s2 != "", F.concat(s2, F.lit("."))),
        F.when(F.col("doc_id") % 5 == 0, F.lit(_SD_PROMO)),
    )
    return docs.select(
        "doc_id",
        F.array_join(F.filter(parts, lambda x: x.isNotNull()), " ").alias(
            "text"
        ),
    )


_SQL_SENT_CORPUS = f"""
  SELECT doc_id,
         concat_ws(' ',
           CASE WHEN trim(substr(coalesce(text, ''), 1, 40)) <> ''
                THEN trim(substr(coalesce(text, ''), 1, 40)) || '.' END,
           CASE WHEN doc_id % 3 = 0 THEN '{_SD_DISCLAIMER}' END,
           CASE WHEN trim(substr(coalesce(text, ''), 41, 40)) <> ''
                THEN trim(substr(coalesce(text, ''), 41, 40)) || '.' END,
           CASE WHEN doc_id % 5 = 0 THEN '{_SD_PROMO}' END
         ) AS text
  FROM documents
"""


_SENT_PAT = r"[^.!?]+[.!?]+"
