"""Round-16 SFT example prep (operators/sft.py): prompt/response
split on the sentences primitive, chat-template render, and the
loss-mask (labels=-100 over the prompt region) input_ids contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod2vec_spark.operators.sft import sft_examples, sft_input_ids


def _docs(spark):
    rows = [
        (1, "What is a shuffle? A shuffle moves rows between "
            "partitions. It is the expensive step."),
        (2, "Single sentence only."),
        (3, None),
        (4, "How do joins work? Broadcast the small side!"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_sft_examples_split_and_template(spark):
    got = {r["doc_id"]: r for r in sft_examples(_docs(spark)).collect()}
    # docs with < 2 sentences (incl. NULL) are excluded
    assert set(got) == {1, 4}
    r = got[1]
    assert r["prompt"] == "What is a shuffle?"
    assert (
        r["response"]
        == "A shuffle moves rows between partitions. It is the expensive step."
    )
    assert r["prompt_text"] == "<|user|> What is a shuffle? <|assistant|>"
    assert r["text"] == (
        "<|user|> What is a shuffle? <|assistant|> A shuffle moves rows "
        "between partitions. It is the expensive step. <|end|>"
    )
    # the word-boundary guarantee the loss mask relies on
    assert r["text"].startswith(r["prompt_text"] + " ")
    with pytest.raises(ValueError, match="min_sentences"):
        sft_examples(_docs(spark), min_sentences=1)


def test_sft_input_ids_loss_mask_golden(spark):
    """The mask covers EXACTLY the rendered prompt's tokens: every
    masked position is -100, every unmasked position equals
    input_ids, and the boundary equals the prompt_text token count
    under the same tokenizer."""
    from prod2vec_spark.operators.bpe import bpe_tokens, token_vocab
    from prod2vec_spark.queries.common import BPE_FIXED_MERGES

    ex = sft_examples(_docs(spark))
    vocab = token_vocab(ex, BPE_FIXED_MERGES, text_col="text")
    out = {
        r["doc_id"]: r
        for r in sft_input_ids(ex, BPE_FIXED_MERGES, vocab).collect()
    }
    # independent boundary check: tokenize prompt_text directly
    npro = {
        r["doc_id"]: r["np"]
        for r in ex.select(
            "doc_id",
            F.size(bpe_tokens(F.col("prompt_text"), BPE_FIXED_MERGES)).alias(
                "np"
            ),
        ).collect()
    }
    for doc_id, r in out.items():
        n, np_ = r["n_ids"], r["n_prompt_ids"]
        assert np_ == npro[doc_id] and 0 < np_ < n
        assert len(r["input_ids"]) == n and len(r["labels"]) == n
        assert all(v == -100 for v in r["labels"][:np_])
        assert r["labels"][np_:] == r["input_ids"][np_:]
        # the response region is never masked
        assert all(v != -100 for v in r["input_ids"])


def test_sft_prefix_property_under_tokenizer(spark):
    """Structural guarantee behind the row-local mask boundary:
    tokens(text) begins with tokens(prompt_text) exactly, for every
    example (whitespace-word tokenizer + whitespace-boundary
    template)."""
    from prod2vec_spark.operators.bpe import bpe_tokens
    from prod2vec_spark.queries.common import BPE_FIXED_MERGES

    ex = sft_examples(_docs(spark))
    rows = ex.select(
        bpe_tokens(F.col("text"), BPE_FIXED_MERGES).alias("full"),
        bpe_tokens(F.col("prompt_text"), BPE_FIXED_MERGES).alias("pre"),
    ).collect()
    assert rows
    for r in rows:
        assert r["full"][: len(r["pre"])] == r["pre"]
