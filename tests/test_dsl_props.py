"""The DSL compiler against a pure-Python evaluator: hypothesis draws
clause trees with adversarial values (quotes, backslashes, braces, the
phrase separator, newlines, non-ASCII, int64 and float extremes) and
`dsl_filter` must keep exactly the rows the evaluator holds TRUE, under
SQL's three-valued logic (a NULL field makes most leaves NULL, and a
filter drops NULL rows)."""

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ela_lib_spark.functions.text import tokenize_list
from ela_lib_spark.plans.dsl import dsl_filter

LANGS = ["en", "de", "it's", "a\\b", "{x}", "e\x1fn", "line\nbreak", "中文", "é", "", "a.b*"]
TEXTS = ["The quick brown FOX", "it's a {brace} \\ test", "fox\x1fquick brown",
         "brown fox\nover the dog", "Ünïcode fox é quick", "", "QUICK-brown_fox42"]
INTS = [0, 1, -1, 5, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)]
FLOATS = [0.0, -1.5, 0.1, 1e300, -1e300, 5e-324, 2.5]
WORDS = ["the", "quick", "brown", "fox", "it", "s", "brace", "test", "dog", "fox42", "zz"]
SEPS = [" ", "'", "\\", "{", "}", "\x1f", "\n", "é", " - ", "%"]
ROWS = [(i, LANGS[i % len(LANGS)] if i % 9 != 8 else None,
         TEXTS[i % len(TEXTS)] if i % 10 != 9 else None,
         INTS[i % len(INTS)] if i % 7 != 6 else None,
         FLOATS[i % len(FLOATS)] if i % 8 != 7 else None)
        for i in range(24)]
COLS = ("id", "lang", "text", "n", "x")


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(ROWS, "id long, lang string, text string, n long, x double")


def _and(vs):
    vs = list(vs)
    return False if False in vs else None if None in vs else True


def _or(vs):
    vs = list(vs)
    return True if True in vs else None if None in vs else False


def _not(v):
    return None if v is None else not v


def _cmp(a, op, b):
    if a is None:
        return None
    return {"gt": a > b, "gte": a >= b, "lt": a < b, "lte": a <= b}[op]


def _unwrap(v, key):
    return v[key] if isinstance(v, dict) else v


def evaluate(q: dict, row: dict):
    """ES semantics of one clause over one row, as TRUE/FALSE/None."""
    (kind, body), = q.items()
    get = lambda f: row["id" if f == "_id" else f]  # noqa: E731
    if kind == "term":
        (f, v), = body.items()
        a = get(f)
        return None if a is None else a == _unwrap(v, "value")
    if kind in ("terms", "ids"):
        f, vals = ("id", body["values"]) if kind == "ids" else next(iter(body.items()))
        a = get(f)
        return False if not vals else None if a is None else a in vals
    if kind == "exists":
        return get(body["field"]) is not None
    if kind == "range":
        (f, spec), = body.items()
        return _and(_cmp(get(f), op, v) for op, v in spec.items())
    if kind == "match":
        (f, v), = body.items()
        qt = tokenize_list(str(_unwrap(v, "query")))
        a = get(f)
        toks = tokenize_list(a) if f == "text" else [a]
        return _or((None if a is None else t in toks) for t in qt)
    if kind == "prefix":
        (f, v), = body.items()
        a = get(f)
        return None if a is None else a.startswith(_unwrap(v, "value"))
    if kind == "wildcard":
        (f, v), = body.items()
        a = get(f)
        rx = "".join(".*" if c == "*" else "." if c == "?" else re.escape(c)
                     for c in _unwrap(v, "value"))
        return None if a is None else re.search(f"^{rx}$", a) is not None
    if kind == "match_phrase":
        (f, v), = body.items()
        qt = tokenize_list(_unwrap(v, "query"))
        toks = tokenize_list(get(f)) if get(f) is not None else []
        return bool(qt) and ("\x1f" + "\x1f".join(qt) + "\x1f") in (
            "\x1f" + "\x1f".join(toks) + "\x1f")
    if kind == "bool":
        must = body.get("must", []) + body.get("filter", [])
        parts = [evaluate(c, row) for c in must]
        should = body.get("should", [])
        if should and body.get("minimum_should_match", 0 if must else 1) >= 1:
            parts.append(_or(evaluate(c, row) for c in should))
        parts += [_not(evaluate(c, row)) for c in body.get("must_not", [])]
        return _and(parts)
    raise AssertionError(kind)


ADVERSARIAL = st.text(alphabet="ab'\\{}\x1f\né中.*?$%_ ", max_size=5)
LANG_V = st.sampled_from(LANGS) | ADVERSARIAL
INT_V = st.sampled_from(INTS) | st.integers(-(2**63), 2**63 - 1)
FLOAT_V = st.sampled_from(FLOATS) | st.floats(allow_nan=False, allow_infinity=False)
PHRASE = st.lists(st.sampled_from(WORDS).map(lambda w: w.upper() if len(w) % 2 else w),
                  max_size=3).flatmap(lambda ws: st.sampled_from(SEPS).map(lambda s: s.join(ws)))
OPS = ("gt", "gte", "lt", "lte")


def _range(field, values):
    return st.dictionaries(st.sampled_from(OPS), values, min_size=1, max_size=2).map(
        lambda spec: {"range": {field: spec}})


def _one(kind, field, values, key=None):
    return values.map(lambda v: {kind: {field: {key: v} if key else v}})


LEAVES = st.one_of(
    _one("term", "lang", LANG_V), _one("term", "n", INT_V, "value"), _one("term", "x", FLOAT_V),
    _one("term", "_id", st.integers(-2, 30)),
    _one("terms", "lang", st.lists(LANG_V, max_size=3)),
    _one("terms", "_id", st.lists(st.integers(-2, 30), max_size=4)),
    st.lists(st.integers(-2, 30), max_size=4).map(lambda v: {"ids": {"values": v}}),
    st.sampled_from(COLS[1:]).map(lambda f: {"exists": {"field": f}}),
    _range("n", INT_V), _range("x", FLOAT_V), _range("lang", LANG_V),
    _range("_id", st.integers(-2, 30)),
    _one("match", "text", PHRASE), _one("match", "text", PHRASE, "query"),
    _one("match", "lang", PHRASE | LANG_V),
    _one("prefix", "lang", LANG_V), _one("prefix", "lang", LANG_V, "value"),
    _one("wildcard", "lang", ADVERSARIAL), _one("wildcard", "text", ADVERSARIAL, "value"),
    _one("match_phrase", "text", PHRASE), _one("match_phrase", "text", PHRASE, "query"),
)


def _bool(children):
    clauses = st.lists(children, min_size=1, max_size=2)
    return st.fixed_dictionaries({}, optional={
        "must": clauses, "filter": clauses, "should": clauses, "must_not": clauses,
        "minimum_should_match": st.sampled_from([0, 1]),
    }).map(lambda b: {"bool": b})


QUERIES = st.recursive(LEAVES, _bool, max_leaves=6)


@settings(max_examples=60, deadline=None)
@given(QUERIES)
@example({"bool": {"should": [{"term": {"lang": "a\\b"}}, {"prefix": {"lang": "it'"}},
                              {"terms": {"lang": ["{x}", "e\x1fn", "line\nbreak"]}}]}})
@example({"bool": {"must": [{"wildcard": {"lang": "a.?*"}}],
                   "must_not": [{"match_phrase": {"text": "quick brown"}}]}})
@example({"bool": {"filter": [{"range": {"n": {"gte": -(2**63), "lt": 2**31}}},
                              {"range": {"x": {"gt": 5e-324}}}]}})
def test_dsl_filter_matches_python_evaluator(frame, q):
    got = sorted(r.id for r in dsl_filter(frame, q, key_col="id").select("id").collect())
    want = sorted(r[0] for r in ROWS if evaluate(q, dict(zip(COLS, r))) is True)
    assert got == want, q
