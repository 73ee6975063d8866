"""Unicode NFC normalization at the codec boundary (round 9):
composed/decomposed fixtures collapse to one digest, and the portable
Column chain is unchanged when nfc=False (operators/text.py)."""

from __future__ import annotations

import unicodedata

from pyspark.sql import functions as F

from prod2vec_spark.operators.text import nfc_normalize, normalize_text

# (composed, decomposed) golden pairs across scripts — decomposed
# forms generated via NFD so the fixture cannot silently collapse in
# an editor that re-composes source text
_COMPOSED = ["caf\u00e9", "\u00f1and\u00fa", "\uc548\ub155", "Stra\u00dfe \u00fcber"]
_PAIRS = [(c, unicodedata.normalize("NFD", c)) for c in _COMPOSED]


def test_nfc_collapses_composed_and_decomposed(spark):
    rows = []
    for i, (c, d) in enumerate(_PAIRS):
        rows += [(2 * i, c), (2 * i + 1, d)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", nfc_normalize(F.col("text")).alias("n")
        ).collect()
    }
    for i, (c, d) in enumerate(_PAIRS):
        assert out[2 * i] == out[2 * i + 1] == unicodedata.normalize("NFC", c), (
            c, d,
        )


def test_normalize_text_nfc_digest_collapses(spark):
    """The dedup-facing contract: one digest per content regardless
    of composition form; nfc=False keeps the two forms distinct
    (the documented portable-subset behavior)."""
    c, d = _PAIRS[0]
    df = spark.createDataFrame([(1, c), (2, d)], "doc_id long, text string")
    digests = lambda nfc: {  # noqa: E731
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", F.md5(normalize_text(F.col("text"), nfc=nfc)).alias("h")
        ).collect()
    }
    with_nfc = digests(True)
    assert with_nfc[1] == with_nfc[2]
    without = digests(False)
    assert without[1] != without[2]


def test_nfc_null_and_ascii_passthrough(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "plain ascii"), (3, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", nfc_normalize(F.col("text")).alias("n")
        ).collect()
    }
    assert out == {1: None, 2: "plain ascii", 3: ""}


def test_text_normalize_nfc_query_rows(spark):
    """The rows-only superset entry: one digest per document, every
    document covered."""
    from prod2vec_spark.queries.text import q_text_normalize_nfc
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    out = q_text_normalize_nfc(spark, SF_SMOKE)
    n_docs = read_table(spark, SF_SMOKE, "documents").count()
    rows = out.collect()
    assert len(rows) == n_docs
    assert all(r["norm_md5"] is not None for r in rows)


def test_nfc_oracle_parity_on_non_ascii(spark, tmp_path):
    """Round-14: the text_normalize_nfc entry gained a real DuckDB
    twin (duckdb nfc_normalize).  The sf corpora are ASCII, so this
    pins the parity where it matters: composed vs decomposed é, NBSP
    whitespace, control chars — Spark digests == DuckDB digests on a
    planted non-ASCII corpus."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from prod2vec_spark.operators.text import normalize_text

    rows = [
        (1, "café crème"),              # composed é
        (2, "café crème"),             # decomposed e + U+0301
        (3, "tab\there\x00and\x1fcontrol"),  # control chars
        (4, None),                            # NULL text
        (5, "ümlauẗ mix Å ring"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: r["norm_md5"]
        for r in docs.select(
            "doc_id",
            F.md5(
                F.coalesce(normalize_text(F.col("text"), nfc=True), F.lit(""))
            ).alias("norm_md5"),
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    from prod2vec_spark.queries.text import _sql_text_normalize_nfc

    want = {
        int(r[0]): r[1]
        for r in con.execute(_sql_text_normalize_nfc()).fetchall()
    }
    assert got == want
    # the whole point: composed and decomposed collapse to ONE digest
    assert got[1] == got[2]
