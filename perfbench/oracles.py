"""Reference answers the benchmark checks the engine's outputs against.

Everything here is plain Python over the generated inputs; ranked
results come from `oracle.brute.brute_topk`.
"""

from __future__ import annotations

from ela_lib_spark.oracle.brute import brute_topk

SCORE_DIGITS = 9  # flat BM25 sums per-term scores in Spark's order


def match_dsl(q: dict) -> dict:
    """The query as a DSL `match`/`bool` clause over `text`. DSL bool
    supports minimum_should_match 0 or 1, so m-of-n becomes OR."""
    clauses = [{"match": {"text": t}} for t in q["terms"]]
    if len(clauses) == 1:
        return clauses[0]
    return {"bool": {"must" if q["mode"] == "AND" else "should": clauses}}


def match_expected(token_sets: dict[str, set], q: dict) -> set[str]:
    """Urls whose token set satisfies the query's match clause."""
    want = all if q["mode"] == "AND" else any
    return {u for u, toks in token_sets.items() if want(t in toks for t in q["terms"])}


class TopK:
    """Brute-force top-k over one corpus, computed once per distinct query."""

    def __init__(self, doc_tokens: dict[int, list[str]], n_docs: int, avg_dl: float, k: int):
        self.doc_tokens, self.n_docs, self.avg_dl, self.k = doc_tokens, n_docs, avg_dl, k
        self._memo: dict = {}

    def want(self, q: dict) -> list[tuple[int, float]]:
        key = (tuple(q["terms"]), q["mode"], q["min_match"])
        if key not in self._memo:
            self._memo[key] = brute_topk(
                self.doc_tokens, q["terms"], q["mode"], self.k,
                n_docs=self.n_docs, avg_dl=self.avg_dl, min_match=q["min_match"],
            )
        return self._memo[key]


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 exact: bool) -> bool:
    """Rank identity on (doc_id, score), ties by doc_id ascending. With
    exact=False scores are compared at SCORE_DIGITS decimals, and both
    lists re-sorted by the rounded score, since a sum in another order
    can differ in the last bits."""
    if exact:
        return [(int(d), float(s)) for d, s in got] == [(int(d), float(s)) for d, s in want]

    def norm(rows):
        r = [(int(d), round(float(s), SCORE_DIGITS)) for d, s in rows]
        return sorted(r, key=lambda x: (-x[1], x[0]))

    return norm(got) == norm(want)


def dedup_ok(kept_rows: set[int], n_rows: int, groups: list[tuple[int, int]]) -> bool:
    """Exactly one row kept per injected group, and every row outside a
    group kept."""
    in_group = {r for g in groups for r in g}
    singles_kept = all(r in kept_rows for r in range(n_rows) if r not in in_group)
    one_each = all(sum(r in kept_rows for r in g) == 1 for g in groups)
    return singles_kept and one_each and len(kept_rows) == n_rows - len(groups)
