"""Seeded inputs for every workload.

Everything the program receives is derived from ``--seed``: the corpus
(``generate_corpus(spark, n, seed)``), the planted duplicates, the query
mix and the write batches. Query words come from the corpus generator's
own vocabulary, so every query hits the index.
"""

from __future__ import annotations

import hashlib
import random

from elasticsearch_analysis_combo_spark.analysis.combo import analyze_text
from elasticsearch_analysis_combo_spark.sources.corpus import (
    _COMMENT_WORDS,
    _IDENT_PARTS,
    _KEYWORDS,
    LANGS,
)


def _row(repo: str, path: str, lang: str, content: str) -> tuple:
    commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
    sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
    return repo, path, commit, lang, content, sha


def planted_duplicates(
    base: list[tuple[int, str, str]], seed: int, n_exact: int, n_near: int
) -> tuple[list[tuple], list[int]]:
    """Corpus rows that copy base docs: ``n_exact`` verbatim copies and
    ``n_near`` copies with 2% of their words replaced. Returns the rows and,
    per exact copy, the index of the base doc it copies."""
    rng = random.Random(seed ^ 0x5EED)
    rows, exact_src = [], []
    picks = rng.sample(range(len(base)), n_exact + n_near)
    for j, i in enumerate(picks):
        _, content, lang = base[i]
        if j < n_exact:
            exact_src.append(i)
        else:
            words = content.split(" ")
            for _ in range(max(1, len(words) // 50)):
                words[rng.randrange(len(words))] = rng.choice(_COMMENT_WORDS)
            content = " ".join(words)
        rows.append(_row("planted/dups", f"copy{j}.txt", lang, content))
    return rows, exact_src


def _ident(rng: random.Random) -> str:
    a, b = rng.choice(_IDENT_PARTS), rng.choice(_IDENT_PARTS)
    return a + b.capitalize()


def _number(rng: random.Random, docs: list[tuple[int, str, str]]) -> str:
    """A numeric token that occurs in the corpus: a selective term."""
    while True:
        words = rng.choice(docs)[1].split(" ")
        nums = [w for w in words if w.isdigit()]
        if nums:
            return rng.choice(nums)


def _phrase(rng: random.Random, docs, config) -> str:
    """Two adjacent corpus words that analyze to exactly two tokens, so the
    phrase matches at least the doc it was taken from."""
    while True:
        words = rng.choice(docs)[1].split(" ")
        i = rng.randrange(len(words) - 1)
        text = f"{words[i]} {words[i + 1]}"
        if len(analyze_text(text, config)) == 2:
            return text


def query_mix(
    docs: list[tuple[int, str, str]], config, seed: int
) -> list[tuple[str, object]]:
    """One cycle of the search mix as (kind, request) pairs:

    * term: multi-term WAND queries with camelCase identifiers that only
      the ``identifier`` sub-analyzer splits;
    * stopword: head keywords only, the WAND stress case;
    * phrase, dsl (bool must + lang filter), aggs (terms by lang over the
      full match set) and query_string (``+must should -must_not``).
    """
    rng = random.Random(seed ^ 0x9E3779B9)
    mix: list[tuple[str, object]] = []
    for _ in range(4):
        mix.append(("term", f"{_ident(rng)} {rng.choice(_COMMENT_WORDS)} "
                            f"{_number(rng, docs)}"))
    for _ in range(2):
        mix.append(("stopword", " ".join(rng.sample(_KEYWORDS[:8], 3))))
    for _ in range(2):
        mix.append(("phrase", _phrase(rng, docs, config)))
    for _ in range(2):
        mix.append(("dsl", {
            "bool": {
                "must": [{"match": {"content": f"{_ident(rng)} "
                                               f"{_number(rng, docs)}"}}],
                "filter": [{"term": {"lang": rng.choice(LANGS)}}],
            }
        }))
    nums = " ".join(_number(rng, docs) for _ in range(3))
    mix.append(("aggs", {
        "size": 0,
        "query": {"match": {"content": nums}},
        "aggs": {"by_lang": {"terms": {"field": "lang"}}},
    }))
    words: list[str] = []
    while len(words) < 3:  # distinct, so the clauses share no term
        w = _number(rng, docs)
        if w not in words:
            words.append(w)
    must, should, never = words
    mix.append(("query_string", f"+{must} {should} -{never}"))
    return mix


def write_batches(
    docs: list[tuple[int, str, str]], seed: int, n_replace: int, n_new: int,
    n_delete: int,
) -> tuple[list[tuple[int, str, str]], list[int], str]:
    """One upsert+delete round: ``n_replace`` existing docs get new content
    and ``n_new`` docs are added, all carrying a marker word that occurs
    nowhere else; ``n_delete`` other docs are deleted. Returns
    (upserts as (doc_id, content, lang), deleted doc ids, marker)."""
    rng = random.Random(seed ^ 0xC0FFEE)
    marker = f"zzfresh{rng.randrange(10**6)}"
    picks = rng.sample(range(len(docs)), n_replace + n_delete)
    ups = []
    for i in picks[:n_replace]:
        doc_id, content, lang = docs[i]
        ups.append((doc_id, f"{content} {marker}", lang))
    for j in range(n_new):
        src = docs[rng.randrange(len(docs))]
        ups.append((rng.getrandbits(62), f"{marker} {src[1][:2000]}", src[2]))
    deleted = [docs[i][0] for i in picks[n_replace:]]
    return ups, deleted, marker
