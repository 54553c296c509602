"""ES query-DSL subset → Catalyst predicates, compiled as SQL text.

The reference treats the user's query JSON as opaque and pushes it into
every ES scan (/root/reference/pkg/es/es5.go:113-114, merged with id
filters at service/task/migrator.go:649-671). Our engine internalizes
the DSL subset its configs exercise (`terms` on _id —
/root/reference/config.yaml:93 — plus the standard search shapes) and
compiles it to declarative filters, so Catalyst pushes them into the
parquet/Iceberg scan (PushedFilters) instead of an opaque remote query.

Supported: match_all, term, terms, ids, exists, range
(gt/gte/lt/lte), match (analyzed OR over tokens), prefix, wildcard,
match_phrase, bool (must/filter/should/must_not).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ela_lib_spark.errors import EngineError
from ela_lib_spark.functions.hashing import quote_col, sql_in, sql_lit
from ela_lib_spark.functions.text import tokenize_list, tokenize_sql

ID_FIELD = "_id"  # ES meta-field; maps to our primary key column
_SEP = "\x1f"  # match_phrase's token separator: no token contains it


class DslError(EngineError, ValueError):
    """Unknown/invalid query-DSL clause (O9 typed error taxonomy)."""


def _col(name: str) -> str:
    """A field name as SQL text, resolved as `F.col(name)` resolves it:
    dots step into struct fields."""
    return ".".join(quote_col(p) for p in name.split("."))


def _field(name: str, key_col: str) -> str:
    return _col(key_col if name == ID_FIELD else name)


def _leaf(body: dict, key: str) -> tuple[str, object]:
    """(field, value) of a one-field clause; the value may be wrapped
    as {key: value}."""
    (f, v), = body.items()
    return f, (v[key] if isinstance(v, dict) else v)


def _any(preds: list[str]) -> str:
    return "(" + " OR ".join(preds) + ")" if preds else "FALSE"


def dsl_to_sql(query: dict, key_col: str = "url", text_cols: tuple = ("text",)) -> str:
    """The query as one SQL boolean expression. Planned as text, a
    query costs the driver one py4j round trip, not several per Column
    call, and the parquet scan still gets its PushedFilters."""
    if not isinstance(query, dict) or len(query) != 1:
        raise DslError(f"query must have exactly one top-level clause: {query!r}")
    (kind, body), = query.items()
    if kind == "match_all":
        return "TRUE"
    if kind == "term":
        f, v = _leaf(body, "value")
        return f"{_field(f, key_col)} = {sql_lit(v)}"
    if kind == "terms":
        (f, vals), = body.items()
        return sql_in(_field(f, key_col), vals)
    if kind == "ids":
        return sql_in(_col(key_col), body["values"])
    if kind == "exists":
        return f"{_col(body['field'])} IS NOT NULL"
    if kind == "range":
        (f, spec), = body.items()
        ops = {"gt": ">", "gte": ">=", "lt": "<", "lte": "<="}
        if not spec:
            raise DslError(f"range on {f} has no bounds")
        preds = []
        for op, v in spec.items():
            if op not in ops:
                raise DslError(f"range op {op}")
            preds.append(f"{_field(f, key_col)} {ops[op]} {sql_lit(v)}")
        return "(" + " AND ".join(preds) + ")"
    if kind == "match":
        f, v = _leaf(body, "query")
        # analyzed match: any query token present in the analyzed field
        toks = tokenize_sql(_col(f)) if f in text_cols else f"array({_col(f)})"
        return _any([f"array_contains({toks}, {sql_lit(t)})"
                     for t in tokenize_list(str(v))])
    if kind == "prefix":
        f, v = _leaf(body, "value")
        return f"startswith({_field(f, key_col)}, {sql_lit(str(v))})"
    if kind == "wildcard":
        f, v = _leaf(body, "value")
        # ES wildcard: * = any run, ? = one char; anchor both ends
        rx = "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in str(v)
        )
        return f"{_field(f, key_col)} RLIKE {sql_lit(f'^{rx}$')}"
    if kind == "match_phrase":
        f, v = _leaf(body, "query")
        qtoks = tokenize_list(str(v))
        if not qtoks:
            return "FALSE"
        # analyzed-phrase containment: the normalized token stream of the
        # field contains the query tokens consecutively
        sep = sql_lit(_SEP)
        joined = f"concat({sep}, concat_ws({sep}, {tokenize_sql(_col(f))}), {sep})"
        return f"contains({joined}, {sql_lit(_SEP + _SEP.join(qtoks) + _SEP)})"
    if kind == "bool":
        must = body.get("must", []) + body.get("filter", [])
        out = ["TRUE"] + [f"({dsl_to_sql(c, key_col, text_cols)})" for c in must]
        should = [f"({dsl_to_sql(c, key_col, text_cols)})" for c in body.get("should", [])]
        # ES semantics: minimum_should_match defaults to 1 only when the
        # bool has NO must/filter clauses; otherwise should is purely a
        # scoring signal and must not filter. An explicit
        # minimum_should_match (0 or 1 supported) overrides.
        msm = body.get("minimum_should_match", 0 if must else 1)
        if msm not in (0, 1):
            raise DslError(f"minimum_should_match {msm} unsupported (0 or 1)")
        if should and msm >= 1:
            out.append(_any(should))
        out += [f"NOT ({dsl_to_sql(c, key_col, text_cols)})"
                for c in body.get("must_not", [])]
        return "(" + " AND ".join(out) + ")"
    raise DslError(f"unsupported clause: {kind}")


def dsl_to_column(query: dict, key_col: str = "url", text_cols: tuple = ("text",)) -> Column:
    return F.expr(dsl_to_sql(query, key_col, text_cols))


def dsl_filter(df: DataFrame, query: dict | None, key_col: str = "url",
               text_cols: tuple = ("text",)) -> DataFrame:
    if not query:
        return df
    return df.where(dsl_to_sql(query, key_col, text_cols))
