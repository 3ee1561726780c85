"""Hypothesis property tests for the kernels (no Spark)."""

import string
from unittest import mock

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from cpp_near_dedupe_spark.functions import (
    band_keys_oracle,
    jaccard_batch,
    jaccard_oracle,
    sketch_batch,
    sketch_oracle,
    xxh64,
    xxh64_rows,
)
from cpp_near_dedupe_spark.functions import sketch as sketch_mod

# text strategy: words over a mixed unicode alphabet joined by delimiters
_word = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("Ll", "Lu", "Nd", "Lo"), max_codepoint=0x2FFFF
    ),
    min_size=1,
    max_size=8,
)
_text = st.lists(_word, min_size=0, max_size=60).map(" ".join)


@settings(max_examples=120, deadline=None)
@given(
    st.lists(_text, min_size=1, max_size=8),
    st.sampled_from([sketch_mod.BLOCK_CODE_UNITS, 40]),
    st.sampled_from([64, 32]),
)
def test_sketch_batch_always_matches_oracle(texts, block, hash_bits):
    # at 40 code units per block most documents straddle a block edge or
    # fill a block of their own
    with mock.patch.object(sketch_mod, "BLOCK_CODE_UNITS", block):
        outs = sketch_batch(texts, hash_bits=hash_bits)
    assert len(outs) == len(texts)
    for t, got in zip(texts, outs):
        assert list(map(int, got)) == sketch_oracle(t, hash_bits=hash_bits)


@settings(max_examples=60, deadline=None)
@given(_text)
def test_sketch_is_sorted_distinct_bounded(t):
    s = sketch_oracle(t)
    assert s == sorted(set(s))
    assert len(s) <= 256


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=80), st.integers(min_value=0, max_value=2**64 - 1))
def test_xxh64_rows_matches_scalar(data, seed):
    mat = np.frombuffer(data, dtype=np.uint8).reshape(1, len(data))
    assert int(xxh64_rows(mat.copy(), seed)[0]) == xxh64(data, seed)


_sig = st.lists(
    st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=300
).map(lambda v: np.unique(np.array(v, dtype=np.uint64)))


@settings(max_examples=60, deadline=None)
@given(_sig, _sig)
def test_jaccard_symmetry_bounds_and_batch_parity(a, b):
    j = jaccard_oracle(a, b)
    assert 0.0 <= j <= 1.0
    assert j == jaccard_oracle(b, a)
    got = jaccard_batch([a], [b])[0]
    assert abs(got - j) < 1e-12
    # identity
    if a.size:
        assert jaccard_oracle(a, a) == 1.0


@settings(max_examples=40, deadline=None)
@given(_sig)
def test_band_keys_prefix_stability(sig):
    # keys of complete bands depend only on that band's content: extending
    # the signature never changes existing complete bands' keys
    keys_full = dict(band_keys_oracle(list(map(int, sig))))
    shorter = list(map(int, sig))[: (sig.size // 4) * 4 - 4] if sig.size >= 8 else []
    keys_short = dict(band_keys_oracle(shorter))
    for b, k in keys_short.items():
        assert keys_full[b] == k


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=24),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=24),
)
def test_jaro_winkler_matches_duckdb(s1, s2):
    """The JW kernel is pinned bit-for-bit against DuckDB's
    jaro_winkler_similarity (the driver oracle) on arbitrary short
    strings, plus symmetry/bounds."""
    import duckdb

    from cpp_near_dedupe_spark.functions.jaro_winkler import jaro_winkler

    got = jaro_winkler(s1, s2)
    exp = duckdb.execute(
        "SELECT jaro_winkler_similarity(?, ?)", [s1, s2]
    ).fetchone()[0]
    assert got == pytest.approx(exp, abs=1e-12), (s1, s2)
    assert jaro_winkler(s2, s1) == pytest.approx(got, abs=1e-12)
    assert 0.0 <= got <= 1.0


# both strings share one alphabet: the small ones (a 2-byte and a 3-byte
# char included) keep matches and transpositions dense, the 64-char one
# makes matches sparse enough to land on the window edges. 600 chars stay
# within 2k UTF-8 bytes; the long branch puts most pairs past the
# 512-byte batch-matrix cap.
def _jw_text(chars):
    alphabet = st.sampled_from(chars)
    return st.one_of(
        st.text(alphabet=alphabet, max_size=40),
        st.text(alphabet=alphabet, min_size=300, max_size=600),
    )


_jw_pair = st.sampled_from(["ab", "abcé€", string.ascii_letters + "é€"]).flatmap(
    lambda chars: st.tuples(_jw_text(chars), _jw_text(chars))
)


@settings(max_examples=300, deadline=None)
@given(_jw_pair)
@example(("bzzz", "ybyy"))  # the only match sits on the window's upper edge
def test_jaro_first_fit_by_byte_matches_literal(pair):
    """The long-outlier route of ``jaro_winkler_batch`` (one pointer per
    byte value) returns exactly the literal first-fit loop's matches, on
    strings past the batch-matrix length cap as well as short ones."""
    from cpp_near_dedupe_spark.functions.jaro_winkler import (
        _first_fit_by_byte,
        _jaro,
        jaro,
    )

    s1, s2 = pair
    assert _jaro(s1, s2, _first_fit_by_byte) == jaro(s1, s2), pair
