"""The curation DAG's media stage (pipeline_llm.media_dedup) end to
end in the default suite: the fused decode pass, the whole-media pair
plane and the component collapse over planted PNG / WAV / AVI
attachment families."""

from __future__ import annotations


def test_corpus_pipeline_media_dedup_stage(spark, tmp_path):
    """Round-9 media-dedup stage: planted near-duplicate media
    attachments (PNG pair, WAV pair, AVI clip pair — one-element
    perturbations) collapse to at most one surviving member per
    family; docs with unique, absent, or undecodable media are never
    dropped by the stage; stage counts stay monotone."""
    import numpy as np
    from pyspark.sql import functions as F

    from prod2vec_spark.operators.multimodal import (
        encode_avi_gray8,
        encode_png_gray8,
        encode_wav_pcm16,
    )
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
    from tests.conftest import SF_SMOKE

    rng = np.random.default_rng(42)

    def png(seed, tweak=False):
        mat = bytearray(
            np.random.default_rng(seed).integers(0, 256, 256, dtype=np.uint8)
        )
        if tweak:
            mat[7] = (mat[7] + 1) % 256
        return encode_png_gray8(bytes(mat), 16, 16)

    def wav(seed, tweak=False):
        s = (
            np.random.default_rng(seed).integers(-2000, 2000, 1040) // 8
        ).tolist()
        if tweak:
            s[13] += 200
        return encode_wav_pcm16(s)

    def avi(seed, tweak=False):
        g = np.random.default_rng(seed)
        frames = [bytes(g.integers(0, 256, 256, dtype=np.uint8)) for _ in range(4)]
        if tweak:
            f0 = bytearray(frames[0])
            f0[11] = (f0[11] + 1) % 256
            frames = [bytes(f0)] + frames[1:]
        return encode_avi_gray8(frames, 16, 16)

    # planted families on low doc_ids (present in sf0.001 documents)
    media_rows = [
        (0, bytearray(png(1))), (1, bytearray(png(1, tweak=True))),   # image family
        (2, bytearray(wav(2))), (3, bytearray(wav(2, tweak=True))),   # audio family
        (4, bytearray(avi(3))), (5, bytearray(avi(3, tweak=True))),   # video family
        (6, bytearray(png(99))),                                      # unique image
        (7, bytearray(b"not media at all")),                          # undecodable
    ]
    media_path = str(tmp_path / "media")
    spark.createDataFrame(
        media_rows, "doc_id long, blob binary"
    ).write.parquet(media_path)

    cfg = CorpusConfig(
        sf_dir=SF_SMOKE,
        work_dir=str(tmp_path / "corpus"),
        media_path=media_path,
    )
    report = CorpusCurationPipeline(spark, cfg).run()
    by_stage = {r["stage"]: r["n"] for r in report.collect()}
    assert (
        by_stage["input"]
        >= by_stage["after_exact_dedup"]
        >= by_stage["after_quality_filter"]
        >= by_stage["after_near_dedup"]
        >= by_stage["final"]
        > 0
    )

    before = {
        r["doc_id"]
        for r in spark.read.parquet(f"{cfg.work_dir}/curated").select("doc_id").collect()
    }
    after = {
        r["doc_id"]
        for r in spark.read.parquet(f"{cfg.work_dir}/media_deduped")
        .select("doc_id")
        .collect()
    }
    dropped = before - after
    # each planted family keeps at most one member; the non-canonical
    # (higher-id) member that reached this stage is gone
    for fam in [(0, 1), (2, 3), (4, 5)]:
        assert len(after & set(fam)) <= 1, fam
        present = before & set(fam)
        if len(present) == 2:
            assert max(present) in dropped, fam
    # unique / undecodable / unattached media never drop at this stage
    assert dropped <= {1, 3, 5}
    # clusters checkpoint covers exactly the paired members it saw
    clusters = spark.read.parquet(f"{cfg.work_dir}/media_dup_clusters")
    assert {r["doc_id"] for r in clusters.collect()} <= {0, 1, 2, 3, 4, 5}
