"""Correctness checks of the benchmark, run outside the timed region.

Each ``expect_*`` function derives the right answer from the pure-Python
oracle in ``tests/oracle.py`` (imported, not modified); each ``check_*``
function compares a result with it and returns ``None`` when it agrees or
a one-line reason when it does not. Nothing here touches Spark.

``python3 combobench/checks.py`` feeds every check a correct and a
deliberately wrong result (perturbed top-k, dropped upsert, ...) on a tiny
corpus and exits non-zero unless each check accepts the first and rejects
the second.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elasticsearch_analysis_combo_spark.analysis.combo import (  # noqa: E402
    ComboConfig,
    analyze_text,
)
from tests import oracle  # noqa: E402

SCORE_TOL = 1e-6


class Oracle:
    """``tests/oracle.py`` over one corpus of (doc_id, content, lang).

    ``oracle_topk`` rebuilds its index on every call; here it is built once
    and handed to each call, so a query costs only its scoring."""

    def __init__(self, docs: list[tuple[int, str, str]], config: ComboConfig):
        self.docs = [(d, c, None) for d, c, _ in docs]
        self.lang = {d: lang for d, _, lang in docs}
        self.config = config
        self.postings, self.doc_len, self.n_docs, self.avgdl = (
            oracle.build_oracle_index(self.docs, config)
        )

    def topk(self, query: str, k: int) -> list[tuple[int, int, float]]:
        built = (self.postings, self.doc_len, self.n_docs, self.avgdl)
        real = oracle.build_oracle_index
        oracle.build_oracle_index = lambda docs, config: built
        try:
            return oracle.oracle_topk(self.docs, self.config, query, k=k)
        finally:
            oracle.build_oracle_index = real

    def terms(self, text: str) -> set[str]:
        return {t.term for t in analyze_text(text, self.config)}

    def matching(self, text: str) -> set[int]:
        docs: set[int] = set()
        for t in self.terms(text):
            docs |= set(self.postings.get(t, {}))
        return docs


# -- expected results -----------------------------------------------------

def expect_term_stats(o: Oracle) -> tuple[dict, dict]:
    """({term: (df, cf)}, {doc_id: dl}) of the whole corpus."""
    term_df = {
        t: (len(pl), sum(tf for tf, _ in pl.values()))
        for t, pl in o.postings.items()
    }
    return term_df, dict(o.doc_len)


def expect_phrase(o: Oracle, text: str) -> dict[int, int]:
    """{doc_id: n_matches} at slop 0: the phrase's tokens fill consecutive
    slots, and a match is a first-slot position p with slot i's term at
    p + i (query/phrase.py)."""
    slots = [t.term for t in analyze_text(text, o.config)]
    out = {}
    for doc_id in o.doc_len:
        pos = []
        for t in slots:
            hit = o.postings.get(t, {}).get(doc_id)
            if hit is None:
                break
            pos.append(set(hit[1]))
        else:
            n = sum(all(p + i in pos[i] for i in range(1, len(pos)))
                    for p in pos[0])
            if n:
                out[doc_id] = n
    return out


def expect_dsl(o: Oracle, text: str, lang: str, k: int) -> list[tuple]:
    """bool must match + lang filter: BM25 ranking of the filtered docs."""
    ranked = [
        (d, s) for _, d, s in o.topk(text, k=o.n_docs) if o.lang[d] == lang
    ][:k]
    return [(i + 1, d, s) for i, (d, s) in enumerate(ranked)]


def expect_aggs(o: Oracle, text: str) -> dict[str, int]:
    """terms agg on lang over the full match set of a match query."""
    counts: dict[str, int] = {}
    for d in o.matching(text):
        counts[o.lang[d]] = counts.get(o.lang[d], 0) + 1
    return counts


def expect_query_string(o: Oracle, query: str, k: int) -> list[tuple]:
    """``+must should -never`` over single words with disjoint terms: docs
    matching ``must`` and not ``never``, scored by BM25 over must+should."""
    must, should, never = (w.lstrip("+-") for w in query.split())
    keep = o.matching(must) - o.matching(never)
    ranked = [
        (d, s) for _, d, s in o.topk(f"{must} {should}", k=o.n_docs)
        if d in keep
    ][:k]
    return [(i + 1, d, s) for i, (d, s) in enumerate(ranked)]


# -- checks -----------------------------------------------------------------

def check_topk(got: list[tuple[int, float]], exp: list[tuple]) -> str | None:
    """Rank-identical doc ids and scores within SCORE_TOL."""
    want = [(d, s) for _, d, s in exp]
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"top-k ids {[d for d, _ in got]} != oracle {[d for d, _ in want]}"
    for (d, s1), (_, s2) in zip(got, want):
        if abs(s1 - s2) > SCORE_TOL * max(1.0, abs(s2)):
            return f"doc {d} score {s1} != oracle {s2}"
    return None


def check_mapping(what: str, got: dict, exp: dict) -> str | None:
    if got == exp:
        return None
    diff = sorted(set(got.items()) ^ set(exp.items()), key=repr)[:3]
    return f"{what}: {len(got)} entries vs oracle {len(exp)}, e.g. {diff}"


def check_term_stats(got_df: dict, got_dl: dict, o: Oracle) -> str | None:
    exp_df, exp_dl = expect_term_stats(o)
    return (check_mapping("term_df", got_df, exp_df)
            or check_mapping("doc_stats", got_dl, exp_dl))


def check_lsh(pairs: set[tuple[int, int]], planted: list[tuple[int, int]]) -> str | None:
    """Every planted exact-duplicate pair is an LSH candidate."""
    found = {(min(a, b), max(a, b)) for a, b in pairs}
    missing = [p for p in planted if (min(p), max(p)) not in found]
    return f"planted pairs not candidates: {missing[:3]}" if missing else None


def check_count(what: str, got: int, exp: int) -> str | None:
    return None if got == exp else f"{what}: {got} != {exp}"


def check_fresh(
    marker_hits: set[int], upserted: set[int], live: set[int],
    deleted: set[int],
) -> str | None:
    """After compact(): the marker word finds exactly the upserted docs, and
    no deleted doc is left in the index."""
    if marker_hits != upserted:
        return (f"marker search found {len(marker_hits)} docs, "
                f"{len(upserted)} upserted")
    stale = live & deleted
    return f"deleted docs still indexed: {sorted(stale)[:3]}" if stale else None


# -- self-check: every check rejects a deliberately wrong result ------------

def selfcheck() -> list[str]:
    cfg = ComboConfig(["whitespace", "identifier", "english"], deduplication=True)
    docs = [
        (11, "the if getShard merge index 42", "java"),
        (12, "token stream the if return 7 42", "python"),
        (13, "merge merge parse_buffer the 7", "java"),
        (14, "the if the if cache 99", "go"),
        (15, "getShard token 99 99", "go"),
    ]
    o = Oracle(docs, cfg)
    bad: list[str] = []

    def expect(name, ok, wrong):
        if ok is not None:
            bad.append(f"{name}: rejected a correct result: {ok}")
        if wrong is None:
            bad.append(f"{name}: accepted a wrong result")

    exp = o.topk("getShard the 42", k=3)
    got = [(d, s) for _, d, s in exp]
    expect("topk/swapped", check_topk(got, exp), check_topk(got[::-1], exp))
    expect("topk/score", check_topk(got, exp),
           check_topk([(got[0][0], got[0][1] + 1e-3)] + got[1:], exp))
    expect("topk/dropped", check_topk(got, exp), check_topk(got[:-1], exp))

    tdf, dl = expect_term_stats(o)
    off = dict(tdf)
    t = next(iter(off))
    off[t] = (off[t][0] + 1, off[t][1])
    expect("term_stats/df", check_term_stats(tdf, dl, o),
           check_term_stats(off, dl, o))
    expect("term_stats/dl", check_term_stats(tdf, dl, o),
           check_term_stats(tdf, {**dl, 11: dl[11] + 1}, o))

    ph = expect_phrase(o, "the if")
    expect("phrase", check_mapping("phrase", ph, ph),
           check_mapping("phrase", dict(list(ph.items())[1:]), ph))

    dsl = expect_dsl(o, "merge 7", "java", 3)
    leak = [(1, 14, 9.9)] + dsl
    expect("dsl/filter", check_topk([(d, s) for _, d, s in dsl], dsl),
           check_topk([(d, s) for _, d, s in leak], dsl))

    ag = expect_aggs(o, "42 99")
    expect("aggs", check_mapping("aggs", ag, ag),
           check_mapping("aggs", {**ag, "go": ag["go"] + 1}, ag))

    qs = expect_query_string(o, "+if 42 -cache", 3)
    expect("query_string/must_not",
           check_topk([(d, s) for _, d, s in qs], qs),
           check_topk([(14, 1.0)] + [(d, s) for _, d, s in qs], qs))

    planted = [(11, 15), (12, 13)]
    expect("lsh", check_lsh({(15, 11), (13, 12), (11, 14)}, planted),
           check_lsh({(15, 11)}, planted))
    expect("curate/count", check_count("survivors", 4, 4),
           check_count("survivors", 5, 4))

    ups, live, gone = {11, 99}, {11, 12, 99}, {13}
    expect("fresh/dropped upsert", check_fresh(ups, ups, live, gone),
           check_fresh({11}, ups, live, gone))
    expect("fresh/deleted present", check_fresh(ups, ups, live, gone),
           check_fresh(ups, ups, live | {13}, gone))
    return bad


if __name__ == "__main__":
    problems = selfcheck()
    for p in problems:
        print("FAIL", p)
    print("selfcheck:", "ok" if not problems else f"{len(problems)} failures")
    sys.exit(1 if problems else 0)
