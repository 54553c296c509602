"""Property tests for the uint64 Mersenne-61 modular kernels — the
arithmetic core of the MinHash path — for the JVM hash bases that
feed and band them, and for the SQL literals that search plans are
built from.

The kernels avoid Python bigints via the 2^61 ≡ 1 / 2^64 ≡ 8 split;
these tests pin them against exact bigint arithmetic over adversarial
and random inputs. The shingle and band hashes are pinned against a
pure-Python XXH64 chain, so LSH bucket identity does not depend on how
the Spark expression is built.
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ela_lib_spark.functions.hashing import (
    MERSENNE61,
    _fold_m61,
    _mulmod_m61,
    lsh_band_stack_sql,
    sql_lit,
    with_shingle_hashes,
)
from ela_lib_spark.errors import SqlLiteralError
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


SQL_LITERALS = st.one_of(
    st.text(max_size=12),
    st.text(alphabet="'\\{}\x1f\n\r\t é中\U0001F600%_$?ab", max_size=12),
    st.integers(-(1 << 63), (1 << 63) - 1),
    st.sampled_from([2**31, -(2**31) - 1, 2**63 - 1, -(2**63)]),
    st.floats(allow_nan=False, allow_infinity=False),
    st.sampled_from([5e-324, -0.0, 1.7976931348623157e308, 0.1, 1e16]),
    st.booleans(),
)


@settings(max_examples=30, deadline=None)
@given(st.lists(SQL_LITERALS, min_size=1, max_size=16))
def test_sql_lit_round_trips_through_one_select(spark, values):
    """Every literal comes back from one SELECT as the same value of the
    same Python type: strings with quotes, backslashes, braces and
    control or non-ASCII characters; ints past int32; floats bit-exact
    (doubles, not DECIMAL)."""
    row = spark.sql("SELECT " + ", ".join(
        f"{sql_lit(v)} AS c{i}" for i, v in enumerate(values))).first()
    for v, got in zip(values, row):
        assert type(got) is type(v), (v, got)
        assert repr(got) == repr(v) if isinstance(v, float) else got == v, (v, got)


@pytest.mark.parametrize("v", [math.nan, math.inf, -math.inf, 1 << 63, -(1 << 63) - 1,
                               None, b"x", [1]])
def test_sql_lit_rejects_values_without_an_exact_literal(v):
    with pytest.raises(SqlLiteralError):
        sql_lit(v)
