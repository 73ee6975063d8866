"""Round-14 (VERDICT r13 ask #5): the media format audit — the codec
boundary's unsupported share as a driver-checked number.
operators/multimodal.decode_blob + media_format_audit over the
planted fixture (tools/gen_media_format_fixture.py)."""

from __future__ import annotations

import pandas as pd
import pytest

from prod2vec_spark.operators.multimodal import decode_blob
from prod2vec_spark.queries.common import _media_format_fixture_path


def test_fixture_golden_lock():
    """Re-running the REAL classifier over every fixture blob must
    reproduce the persisted (fmt, status) columns bit-for-bit — the
    video_vhash golden protocol: the oracle aggregates these columns,
    so this lock is what makes the driver entry honest."""
    df = pd.read_parquet(_media_format_fixture_path())
    assert len(df) == 240
    for _, row in df.iterrows():
        fmt, status = decode_blob(bytes(row["blob"]))[:2]
        assert (fmt, status) == (row["fmt"], row["status"]), row["media_id"]
    # every declared class is present, including the planted WebP
    got = set(zip(df["fmt"], df["status"]))
    assert ("webp", "unsupported_format") in got
    assert ("jpeg", "unsupported_format") in got  # arithmetic SOF10
    assert ("png", "corrupt") in got and ("avi", "corrupt") in got
    assert ("unknown", "unsupported_format") in got


def test_classifier_boundaries():
    """Magic-byte + decode-attempt classification: WebP and
    arithmetic/lossless JPEG are UNSUPPORTED (declared boundary),
    truncation is CORRUPT, valid codecs DECODE, junk is UNKNOWN."""
    import struct

    from prod2vec_spark.operators.multimodal import (
        encode_png_gray8,
        encode_wav_pcm16,
    )

    png = encode_png_gray8(bytes(range(256)), 16, 16)
    assert decode_blob(png)[:2] == ("png", "decoded")
    assert decode_blob(png[:20])[:2] == ("png", "corrupt")
    assert decode_blob(encode_wav_pcm16([0] * 100))[:2] == ("wav", "decoded")
    webp = b"RIFF" + struct.pack("<I", 12) + b"WEBP" + bytes(12)
    assert decode_blob(webp)[:2] == ("webp", "unsupported_format")
    arith = b"\xff\xd8\xff\xca" + struct.pack(">H", 11) + bytes(9)
    assert decode_blob(arith)[:2] == ("jpeg", "unsupported_format")
    lossless = b"\xff\xd8\xff\xc3" + struct.pack(">H", 11) + bytes(9)
    assert decode_blob(lossless)[:2] == ("jpeg", "unsupported_format")
    assert decode_blob(b"\xff\xd8 not a real jpeg")[:2] == ("jpeg", "corrupt")
    assert decode_blob(b"garbage")[:2] == ("unknown", "unsupported_format")
    assert decode_blob(None)[:2] == ("unknown", "unsupported_format")


def test_audit_counts_match_pandas(spark):
    """media_format_audit (one Arrow-batched scan + tiny hash-agg)
    reproduces the per-(fmt, status) counts of a row-by-row pandas
    pass over the same blobs."""
    from prod2vec_spark.operators.multimodal import media_format_audit

    df = pd.read_parquet(_media_format_fixture_path())
    want = df.groupby(["fmt", "status"]).size().to_dict()
    media = spark.createDataFrame(
        [(int(r["media_id"]), bytearray(r["blob"])) for _, r in df.iterrows()],
        "media_id long, blob binary",
    )
    got = {
        (r["fmt"], r["status"]): r["n"]
        for r in media_format_audit(media).collect()
    }
    assert got == want


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_dag_media_format_audit_artifact(spark, tmp_path):
    """media_format_audit=True writes the per-(format, status) counts
    next to the media-dedup artifacts — including the planted WebP's
    unsupported_format row — matching a direct audit of the same
    blob table."""
    from pyspark.sql import functions as F

    from prod2vec_spark.operators.multimodal import (
        encode_png_gray8,
        media_format_audit,
    )
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ids = [r["doc_id"] for r in docs.select("doc_id").limit(12).collect()]
    rows = []
    for i, d in enumerate(ids):
        if i % 3 == 0:
            blob = encode_png_gray8(bytes((d * 7 + j) % 256 for j in range(256)), 16, 16)
        elif i % 3 == 1:
            blob = b"RIFF" + bytes(4) + b"WEBP" + bytes(16)  # unsupported
        else:
            blob = b"not media at all"
        rows.append((d, bytearray(blob)))
    media = spark.createDataFrame(rows, "doc_id long, blob binary")
    media_path = str(tmp_path / "media")
    media.write.parquet(media_path)

    cfg = CorpusConfig(
        sf_dir=SF_SMOKE,
        work_dir=str(tmp_path / "w"),
        media_path=media_path,
        media_format_audit=True,
    )
    CorpusCurationPipeline(spark, cfg).run()
    audit = {
        (r["fmt"], r["status"]): r["n"]
        for r in spark.read.parquet(
            f"{cfg.work_dir}/media_format_audit"
        ).collect()
    }
    want = {
        (r["fmt"], r["status"]): r["n"]
        for r in media_format_audit(
            media, id_col="doc_id", blob_col="blob"
        ).collect()
    }
    assert audit == want
    assert audit[("webp", "unsupported_format")] == 4
    assert audit[("png", "decoded")] == 4


def test_media_format_golden_dims_match_live_parser():
    """The planted lossy-WebP rows carry well-formed key-frame
    headers: the live header parser reads back exactly the dims the
    generator planted (tools/gen_media_format_fixture.py: width
    33 + id % 64, height 17 + id % 48), while the decode door keeps
    their pixels the unsupported boundary."""
    import pandas as pd

    from prod2vec_spark.operators.webp import _vp8l_payload, webp_info
    from prod2vec_spark.queries.common import _media_format_fixture_path

    df = pd.read_parquet(_media_format_fixture_path())
    webp = df[df.fmt == "webp"]
    lossy = [r for r in webp.itertuples() if _vp8l_payload(bytes(r.blob)) is None]
    assert len(lossy) > 0
    for r in lossy:
        assert r.status == "unsupported_format", r.media_id
        d = webp_info(bytes(r.blob))
        assert (d["width"], d["height"]) == (
            33 + r.media_id % 64,
            17 + r.media_id % 48,
        ), r.media_id
