"""Answer checks. A wrong answer counts as a failed operation.

* Every response gets a cheap shape check right after it returns.
* A seeded sample of search responses is compared, after the timed
  loop, with the relational ``operators.search.search`` (the tests'
  rank-identity reference) on doc ids, scores and ``count``.
"""

from __future__ import annotations

import math

from .stream import Req

REL_TOL = 1e-9


def shape_ok(req: Req, resp) -> bool:
    """Structural invariants every endpoint's response must hold."""
    if req.method == "suggest":
        return isinstance(resp, list) and all(
            r["df"] >= 1 and abs(len(r["term"]) - len(req.args[0])) <= 1
            for r in resp
        )
    if not isinstance(resp, dict) or resp.get("result") is not True:
        return False
    if req.method == "complete":
        return all(c["term"].startswith(req.args[0])
                   for c in resp["completions"])
    if req.method == "statistics":
        st = resp["statistics"]
        return st["total"]["pages"] == sum(d["pages"] for d in st["detailed"])
    if req.method == "facets":
        counts = [f["count"] for f in resp["facets"]]
        return counts == sorted(counts, reverse=True) and all(
            c > 0 for c in counts)
    data = resp["data"]
    limit = req.opt("limit", 20)
    if len(data) > limit or resp["count"] < len(data):
        return False
    score = "phrase_tf" if req.method == "phrase" else "relevance"
    ranks = [(-d[score], d["doc_id"]) for d in data]
    if req.opt("collapse") is None and ranks != sorted(ranks):
        return False
    site = req.opt("site")
    return site is None or all(d["site"] == f"https://{site}" for d in data)


def relational_mismatch(spark, index, constants, req: Req, resp) -> str | None:
    """None when the service response equals the relational reference;
    otherwise a one-line description of the difference."""
    from searchengine_spark.operators.search import (
        parse_boosted_query,
        search,
    )

    query, boosts = req.args[0], None
    if "^" in query:
        query, boosts = parse_boosted_query(query)
    offset, limit = req.opt("offset", 0), req.opt("limit", 20)
    rows = search(
        spark, index, query, k=constants[0], site=req.opt("site"),
        mode=req.opt("mode", "bm25"),
        conjunctive=req.opt("conjunctive", True), constants=constants,
        boosts=boosts or None,
    ).collect()
    want = rows[offset:offset + limit]
    got = resp["data"]
    if resp["count"] != len(rows):
        return f"count {resp['count']} != {len(rows)} for {req}"
    if [d["doc_id"] for d in got] != [r["doc_id"] for r in want]:
        return f"doc ids differ for {req}"
    for d, r in zip(got, want):
        if not math.isclose(d["relevance"], r["score"], rel_tol=REL_TOL):
            return f"score {d['relevance']} != {r['score']} for {req}"
    return None
