"""32-bit hash mode (reference `-s 32`): FNV-variant parity + pipeline smoke."""

import numpy as np
import pandas as pd

from cpp_near_dedupe_spark.config import DedupeConfig
from cpp_near_dedupe_spark.functions.fnv32 import fnv32_shingle, fnv32_u16_rows
from cpp_near_dedupe_spark.functions.sketch import sketch_batch, sketch_oracle


def test_fnv32_scalar_properties():
    # init value with empty input
    assert fnv32_shingle([]) == 2166136261
    # ONLY the low byte participates: 0x0041 and 0x1241 hash identically
    assert fnv32_shingle([0x0041]) == fnv32_shingle([0x1241])
    # low-byte changes do change the hash
    assert fnv32_shingle([0x41]) != fnv32_shingle([0x42])


def test_fnv32_vectorized_matches_scalar():
    rng = np.random.default_rng(3)
    for L in (1, 2, 7, 25, 60):
        mat = rng.integers(0, 65536, size=(40, L)).astype(np.uint16)
        got = fnv32_u16_rows(mat)
        for row, g in zip(mat, got):
            assert fnv32_shingle([int(c) for c in row]) == int(g)


def test_sketch_32bit_oracle_vs_batch():
    import random

    rng = random.Random(5)
    vocab = ["alpha", "beta", "gamma", "δelta", "слово"]
    texts = ["", None, "one two three four five"]
    texts += [" ".join(rng.choices(vocab, k=rng.randrange(0, 200))) for _ in range(20)]
    outs = sketch_batch(texts, hash_bits=32)
    assert len(outs) == len(texts)
    for t, got in zip(texts, outs):
        exp = sketch_oracle(t, hash_bits=32)
        assert list(map(int, got)) == exp
        assert all(v < 2**32 for v in exp)


def test_pipeline_32bit_smoke(spark):
    from cpp_near_dedupe_spark.plans.pipeline import run_pipeline

    base = " ".join(f"w{i % 101}" for i in range(400))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, base, "qq ww ee rr tt yy"]}),
        "doc_id long, text string",
    )
    cfg = DedupeConfig(id_col="doc_id", text_col="text", hash_bits=32)
    res = run_pipeline(spark, docs, cfg)
    rows = {r.doc_id: (r.cluster_id, r.is_kept) for r in res.resolved.collect()}
    assert rows[1] == (1, True) and rows[2] == (1, False)
    assert rows[3][1]
