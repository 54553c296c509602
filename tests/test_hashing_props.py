"""Property tests for the uint64 Mersenne-61 modular kernels — the
arithmetic core of the MinHash path — and for the JVM hash bases that
feed and band them.

The kernels avoid Python bigints via the 2^61 ≡ 1 / 2^64 ≡ 8 split;
these tests pin them against exact bigint arithmetic over adversarial
and random inputs. The shingle and band hashes are pinned against a
pure-Python XXH64 chain, so LSH bucket identity does not depend on how
the Spark expression is built.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ela_lib_spark.functions.hashing import (
    MERSENNE61,
    _fold_m61,
    _mulmod_m61,
    lsh_band_stack_sql,
    with_shingle_hashes,
)
from ela_lib_spark.functions.text import tokenize_sql
from ela_lib_spark.functions.xxh import spark_xxhash64, xxhash64_bytes

EDGE = [0, 1, 2, MERSENNE61 - 1, MERSENNE61, MERSENNE61 + 1,
        (1 << 62) - 1, (1 << 63) - 1, (1 << 64) - 1, 1 << 32, (1 << 32) - 1]


def test_fold_edges():
    x = np.array(EDGE, np.uint64)
    got = _fold_m61(x)
    exp = np.array([v % MERSENNE61 for v in EDGE], np.uint64)
    assert (got == exp).all(), (got, exp)


def test_mulmod_edges():
    vals = [v % MERSENNE61 for v in EDGE]
    a = np.array(vals, np.uint64)
    for b_int in vals:
        b = np.full(len(vals), b_int, np.uint64)
        got = _mulmod_m61(a, b)
        exp = np.array([(v * b_int) % MERSENNE61 for v in vals], np.uint64)
        assert (got == exp).all(), (b_int, got, exp)


@settings(max_examples=200, deadline=None)
@given(st.integers(0, (1 << 64) - 1))
def test_fold_matches_bigint(x):
    assert int(_fold_m61(np.array([x], np.uint64))[0]) == x % MERSENNE61


@settings(max_examples=200, deadline=None)
@given(st.integers(0, MERSENNE61 - 1), st.integers(0, MERSENNE61 - 1))
def test_mulmod_matches_bigint(a, x):
    got = int(_mulmod_m61(np.array([a], np.uint64), np.array([x], np.uint64))[0])
    assert got == (a * x) % MERSENNE61


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(-(1 << 63), (1 << 63) - 1), min_size=1, max_size=40))
def test_minhash_position_matches_bigint(hashes):
    """One full signature position computed both ways over arbitrary
    signed-int64 'shingle hashes' (the JVM xxhash64 value domain)."""
    from ela_lib_spark.functions.hashing import minhash_params

    a, b = minhash_params(8)
    h = np.asarray(hashes, np.int64)
    x = _fold_m61(h.astype(np.uint64))
    m = _fold_m61(_mulmod_m61(a[:, None], x[None, :]) + b[:, None])
    got = m.min(axis=1)
    for i in range(8):
        exp = min(((int(v) & ((1 << 64) - 1)) % MERSENNE61 * int(a[i])
                   + int(b[i])) % MERSENNE61 for v in hashes)
        assert int(got[i]) == exp


def _chain(vals) -> int:
    """Spark's multi-arg xxhash64 over int64 values: h = 42, then
    h = XXH64(le8(v), seed=h); signed like the JVM's long."""
    h = 42
    for v in vals:
        h = xxhash64_bytes((v & ((1 << 64) - 1)).to_bytes(8, "little"), seed=h)
    return h - (1 << 64) if h >= 1 << 63 else h


TOKEN = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=6)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.lists(TOKEN, max_size=12), min_size=1, max_size=8),
       st.sampled_from([" ", " - ", ",", "\t"]))
def test_sql_shingle_hashes_match_python_chain(spark, docs, sep):
    df = spark.createDataFrame([(i, sep.join(t)) for i, t in enumerate(docs)],
                               "id long, text string")
    got = {r.id: list(r._sh) for r in
           with_shingle_hashes(df, tokenize_sql("text"), 3, keep=["id"]).collect()}
    for i, toks in enumerate(docs):
        th = [spark_xxhash64(t) for t in toks]
        assert got[i] == [_chain(th[k:k + 3]) for k in range(len(th) - 2)], toks


@settings(max_examples=20, deadline=None)
@given(st.lists(st.lists(st.integers(-(1 << 63), (1 << 63) - 1), min_size=16, max_size=16),
                min_size=1, max_size=8))
def test_sql_band_hashes_match_python_chain(spark, sigs):
    df = spark.createDataFrame(list(enumerate(sigs)), "id long, sig array<bigint>")
    got = {(r.id, r.band): r.bh for r in
           df.selectExpr("id", lsh_band_stack_sql("sig", 4, 4)).collect()}
    assert got == {(i, b): _chain(s[4 * b:4 * b + 4])
                   for i, s in enumerate(sigs) for b in range(4)}
