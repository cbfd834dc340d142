"""The benchmark's workloads, each driven through the package's public calls.

* ``build-combo`` — full ``ComboSearchEngine.index`` with the paper's
  3-analyzer combo + dedup; analysis and the posting build do the work.
* ``search-mix`` — single-client closed loop over whole cycles of a seeded
  query mix against an index built in set-up; only query code runs.

A workload returns a :class:`Result`; per-layer metrics come from
:func:`layers` after the session is stopped and the event log is closed.
The write path (upsert + delete + compact) and the data-curation operators
run on build-combo's traced run only (:func:`_maintenance_round`,
:func:`_curation_round`): as workloads of their own they did not fit the
time the benchmark's runs are given.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from combobench import gen
from combobench.checks import (
    Oracle,
    check_count,
    check_fresh,
    check_lsh,
    check_mapping,
    check_term_stats,
    check_topk,
    expect_aggs,
    expect_dsl,
    expect_phrase,
    expect_query_string,
)
from combobench.trace import (
    Tracer,
    cpu_ticks,
    idle_s,
    jit_cpu_s,
    steal_share,
    tree_cpu_s,
)
from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine
from elasticsearch_analysis_combo_spark.operators.dedup import (
    duplicate_spans,
    minhash_lsh_candidates,
)
from elasticsearch_analysis_combo_spark.operators.pipeline import curate_corpus
from elasticsearch_analysis_combo_spark.operators.postings import build_postings
from elasticsearch_analysis_combo_spark.operators.text_quality import (
    lang_id,
    ngram_lm_perplexity,
    quality_score,
    repetition_stats,
)
from elasticsearch_analysis_combo_spark.plans.index_build import InvertedIndex
from elasticsearch_analysis_combo_spark.sources.corpus import (
    CORPUS_SCHEMA,
    generate_corpus,
    ingest,
)

#: the paper's use case: N sub-analyzers merged per position, deduplicated
COMBO = ComboConfig(["whitespace", "identifier", "english"], deduplication=True)

#: input sizes per run (docs): small enough that set-up, the measured work
#: and the checks take under a minute on 4 cores, which the run budget allows
SIZES = {"build-combo": 100, "search-mix": 100}
PLANTED_EXACT, PLANTED_NEAR = 6, 6
WARMUP_DOCS = 12
WARMUP_BUILDS = 2
K = 10
CURATE_OPS = ("quality_lang", "minhash_lsh", "dup_spans", "lm_perplexity",
              "repetition", "curate_chain")
QUERY_KINDS = ("term", "stopword", "phrase", "dsl", "aggs", "query_string")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    t0: float  # set-up start, before the session was created
    cpu0: float  # process-tree CPU seconds at t0
    jvm_pid: int

    def cpu_s(self) -> tuple[float, float]:
        """(CPU seconds of this process tree without the JIT compiler
        threads, CPU seconds of the JIT compiler threads), used so far."""
        jit = jit_cpu_s(self.jvm_pid)
        return tree_cpu_s() - jit, jit

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


@dataclass
class Result:
    #: CPU seconds the set-up took (session, inputs, warm-up), all
    #: processes, JIT compiler threads left out (Ctx.cpu_s)
    setup_s: float = 0.0
    #: per timed op: wall seconds and CPU seconds as in setup_s
    op_s: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    items: int = 0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    #: the workload's own metrics: name -> {"value", "unit", "n"}
    named: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)

    def metric(self, name: str, value: float, unit: str, n: int) -> None:
        self.named[name] = {"value": value, "unit": unit, "n": n}

    def check(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failures.append(f"{what}: {problem}")


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _docs(spark, corpus_dir: str) -> list[tuple[int, str, str]]:
    rows = ingest(spark.read.parquet(corpus_dir)).select(
        "doc_id", "content", "lang").collect()
    return sorted((r["doc_id"], r["content"], r["lang"]) for r in rows)


def _wait_prewarm(res: Result) -> None:
    """get_spark warms worker pools in background threads; timed work must
    not overlap them. A warm-up thread still running after a minute is
    reported, not waited for."""
    deadline = time.time() + 60
    for th in threading.enumerate():
        if th.name.startswith("combo-spark-prewarm"):
            th.join(max(0.0, deadline - time.time()))
            if th.is_alive():
                res.info["prewarm_unfinished"] = th.name


class _Background:
    """Runs the pure-Python oracle beside the Spark set-up and keeps the CPU
    time it took, which :func:`_end_setup` leaves out of set-up."""

    def __init__(self, fn):
        self.value, self.error, self.cpu_s = None, None, 0.0

        def run():
            t = time.thread_time()
            try:
                self.value = fn()
            except Exception as e:  # noqa: BLE001 - re-raised in result()
                self.error = e
            self.cpu_s = time.thread_time() - t

        self.thread = threading.Thread(target=run, name="combobench-oracle")
        self.thread.start()

    def result(self):
        self.thread.join()
        if self.error is not None:
            raise self.error
        return self.value


def _timed_loop(ctx: Ctx, res: Result, step, nominal_s: float, min_ops: int,
                unit: int = 1) -> None:
    """Closed loop, one client: ``step(i)`` runs op ``i`` and returns the
    work items it completed. The op count is fixed by ``--seconds`` and the
    op's nominal wall time (4 cores, seed commit), so every commit measures
    the same work. The count is a multiple of ``unit`` (whole query-mix
    cycles), at least ``min_ops`` units, so medians rest on several samples.
    Each op's wall time, CPU time (:meth:`Ctx.cpu_s`), the JIT's CPU time
    and the host's steal share while it ran are recorded."""
    n = unit * max(min_ops, round(ctx.seconds / (nominal_s * unit)))
    jit_s, steal = [], []
    res.info.update(op_jit_cpu_s=jit_s, op_steal=steal)
    for i in range(n):
        k0, (c0, j0), t = cpu_ticks(), ctx.cpu_s(), time.perf_counter()
        res.items += step(i)
        res.op_s.append(time.perf_counter() - t)
        c1, j1 = ctx.cpu_s()
        res.op_cpu_s.append(c1 - c0)
        jit_s.append(j1 - j0)
        steal.append(steal_share(k0, cpu_ticks()))


def _end_setup(ctx: Ctx, res: Result, oracle: "_Background") -> None:
    """Set-up ends once get_spark's pre-warm threads are done and the
    oracle has its answers; the oracle's own CPU time is not set-up."""
    _wait_prewarm(res)
    oracle.thread.join()
    cpu, jit = ctx.cpu_s()  # the JVM started after cpu0: all its JIT is here
    res.setup_s = cpu - ctx.cpu0 - oracle.cpu_s
    res.info.update(setup_wall_s=time.time() - ctx.t0, setup_jit_cpu_s=jit)


# -- build-combo ------------------------------------------------------------

def _build(ctx: Ctx, corpus_dir: str, index_dir: str, request: str) -> None:
    tr = ctx.tracer
    with tr.span("build", request):
        with tr.span("sources.ingest", request):
            corpus = ingest(ctx.spark.read.parquet(corpus_dir))
        with tr.span("index_build", request):
            ComboSearchEngine(ctx.spark, COMBO, index_dir).index(corpus)


def build_combo(ctx: Ctx) -> Result:
    res, spark, n = Result(), ctx.spark, SIZES["build-combo"]
    corpus_dir = ctx.path("corpus")
    generate_corpus(spark, n, ctx.seed).write.parquet(corpus_dir)
    docs = _docs(spark, corpus_dir)
    oracle = _Background(lambda: Oracle(docs, COMBO))
    # untimed warm-up: the first build pays codegen and worker start-up; the
    # JIT's own threads keep compiling for ten builds and more, but they are
    # left out of op CPU time, and the rest settles after two builds
    for i in range(WARMUP_BUILDS):
        _build(ctx, corpus_dir, ctx.path(f"warmup-index{i}"), "warmup")
    _end_setup(ctx, res, oracle)
    o = oracle.result()

    dirs = []

    def step(i):
        # a fresh index_dir for every build: an existing one
        # would resume from its checkpoints and time a no-op
        dirs.append(ctx.path(f"index{len(dirs)}"))
        _build(ctx, corpus_dir, dirs[-1], f"build{i}")
        return n

    _timed_loop(ctx, res, step, nominal_s=3.5, min_ops=5)
    for d in dirs:
        idx = InvertedIndex(spark, d)
        tdf = {r["term"]: (r["df"], r["cf"]) for r in idx.term_df().collect()}
        dl = {r["doc_id"]: r["dl"] for r in idx.doc_stats().collect()}
        res.check("build term_df/doc_stats", check_term_stats(tdf, dl, o))
    content_bytes = sum(len(c.encode("utf-8")) for _, c, _ in docs)
    res.info.update(docs=len(docs), content_bytes=content_bytes)
    res.metric("build_files_per_s", res.items / sum(res.op_s), "files/s",
               len(res.op_s))
    res.metric("index_bytes_per_content_byte", du(dirs[-1]) / content_bytes,
               "ratio", 1)
    res.state.update(oracle=o, docs=docs, index_dir=dirs[-1],
                     content_bytes=content_bytes)
    if ctx.tracer.enabled:
        _layer_runs(ctx, res, corpus_dir)
        _maintenance_round(ctx, res)
        _curation_round(ctx, res, corpus_dir)
    return res


def _layer_runs(ctx: Ctx, res: Result, corpus_dir: str) -> None:
    """Traced run only: the analysis stage to a noop sink and the posting
    build + write, each on its own, for the per-layer split of a build."""
    spark, tr = ctx.spark, ctx.tracer
    corpus = ingest(spark.read.parquet(corpus_dir))
    with tr.span("analysis"):
        build_term_stats(corpus, COMBO).write.format("noop").mode(
            "overwrite").save()
    idx = InvertedIndex(spark, res.state["index_dir"])
    m = idx.meta
    # the hot-term cut build_index applies (plans/index_build.py)
    hot = idx.term_df().filter(
        F.col("df") >= max(4 * m.block_size, m.n_docs // 10)).select("term")
    out = ctx.path("postings-only")
    with tr.span("postings"):
        build_postings(
            idx.term_stats(), avgdl=m.avgdl, hot_terms=hot, k1=m.k1, b=m.b,
            block_size=m.block_size, salt_shards=m.salt_shards,
            with_positions=m.with_positions,
        ).write.parquet(out)
    res.state.update(
        postings_rows=spark.read.parquet(out).count(), postings_bytes=du(out),
        checkpoint_bytes=sum(
            du(os.path.join(res.state["index_dir"], t))
            for t in ("term_stats", "doc_stats", "term_df")),
    )


def _maintenance_round(ctx: Ctx, res: Result) -> None:
    """Traced run only: one upsert + delete + compact() on a copy of the
    built index, then queries that must see the new content and must not
    see deleted docs."""
    spark, tr, docs = ctx.spark, ctx.tracer, res.state["docs"]
    index_dir = ctx.path("maintained")
    shutil.copytree(res.state["index_dir"], index_dir)
    eng = ComboSearchEngine(spark, COMBO, index_dir)
    ups, deleted, marker = gen.write_batches(docs, ctx.seed, 5, 5, 5)
    with tr.span("maintenance"):
        with tr.span("maintenance.upsert"):
            eng.upsert(spark.createDataFrame(
                ups, "doc_id long, content string, lang string"))
        with tr.span("maintenance.delete"):
            eng.delete(deleted)
        with tr.span("maintenance.compact"):
            eng.compact()
    hits = {r["doc_id"] for r in eng.search(marker, k=2 * len(ups)).collect()}
    live = {r["doc_id"] for r in eng.idx.doc_stats().select("doc_id").collect()}
    res.check("maintenance freshness",
              check_fresh(hits, {d for d, _, _ in ups}, live, set(deleted)))
    res.state["upsert_bytes"] = sum(len(c.encode("utf-8")) for _, c, _ in ups)
    res.metric("freshness_s", tr.named("maintenance")[0].s, "s", 1)


# -- search-mix -------------------------------------------------------------

def _run_query(ctx: Ctx, eng, meta_dir: str, kind: str, req, request: str):
    """One query of the mix, results collected to the driver."""
    with ctx.tracer.span(f"query.{kind}", request):
        if kind in ("term", "stopword"):
            rows = eng.search(req, k=K).collect()
        elif kind == "phrase":
            return {r["doc_id"]: r["n_matches"] for r in eng.phrase(req).collect()}
        elif kind == "dsl":
            rows = eng.search_dsl(
                req, doc_meta=ctx.spark.read.parquet(meta_dir), k=K).collect()
        elif kind == "aggs":
            _, aggs = eng.search_aggs(req, doc_meta=ctx.spark.read.parquet(meta_dir))
            return {r["key"]: int(r["value"]) for r in aggs.collect()
                    if r["metric"] == "doc_count"}
        else:
            rows = eng.search_query_string(req, k=K).collect()
    return [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]


def _expected(o: Oracle, kind: str, req):
    if kind in ("term", "stopword"):
        return o.topk(req, K)
    if kind == "phrase":
        return expect_phrase(o, req)
    if kind == "dsl":
        must = req["bool"]["must"][0]["match"]["content"]
        return expect_dsl(o, must, req["bool"]["filter"][0]["term"]["lang"], K)
    if kind == "aggs":
        return expect_aggs(o, req["query"]["match"]["content"])
    return expect_query_string(o, req, K)


def _check_query(kind: str, got, exp) -> str | None:
    if kind in ("phrase", "aggs"):
        return check_mapping(kind, got, exp)
    return check_topk(got, exp)


def search_mix(ctx: Ctx) -> Result:
    res, spark, n = Result(), ctx.spark, SIZES["search-mix"]
    corpus_dir, meta_dir = ctx.path("corpus"), ctx.path("doc_meta")
    generate_corpus(spark, n, ctx.seed).write.parquet(corpus_dir)
    docs = _docs(spark, corpus_dir)
    mix = gen.query_mix(docs, COMBO, ctx.seed)

    def oracle_answers():
        o = Oracle(docs, COMBO)
        return [_expected(o, kind, req) for kind, req in mix]

    expected = _Background(oracle_answers)
    corpus = ingest(spark.read.parquet(corpus_dir))
    corpus.select("doc_id", "lang", F.length("content").alias("n_chars")) \
        .write.parquet(meta_dir)
    eng = ComboSearchEngine(spark, COMBO, ctx.path("index"))
    with ctx.tracer.span("index_build", "setup"):
        eng.index(corpus)
    content_bytes = sum(len(c.encode("utf-8")) for _, c, _ in docs)
    res.metric("index_bytes_per_content_byte",
               du(ctx.path("index")) / content_bytes, "ratio", 1)
    # untimed warm-up, a whole cycle of the mix: the JIT is still compiling
    # after one query of each kind (cheap queries then cost 30 % more CPU)
    for i, (kind, req) in enumerate(mix):
        _run_query(ctx, eng, meta_dir, kind, req, f"warmup{i}")
    _end_setup(ctx, res, expected)
    exp = expected.result()

    got = []

    def step(i):
        kind, req = mix[i % len(mix)]
        got.append((i, _run_query(ctx, eng, meta_dir, kind, req, f"q{i}")))
        return 1

    # two cycles of the mix: each kind is sampled at least twice a run
    _timed_loop(ctx, res, step, nominal_s=0.75, min_ops=2, unit=len(mix))
    # results the checks compared, per kind: no check is vacuous
    compared = dict.fromkeys(QUERY_KINDS, 0)
    for i, g in got:
        kind, req = mix[i % len(mix)]
        res.check(f"query {kind} {req!r}", _check_query(kind, g, exp[i % len(mix)]))
        compared[kind] += len(g)
    res.info.update(
        docs=len(docs), content_bytes=content_bytes,
        queries_per_cycle=len(mix), results_per_kind=compared,
    )
    res.metric("query_p50_s", statistics.median(res.op_s), "s", len(res.op_s))
    res.metric("query_per_s", res.items / sum(res.op_s), "queries/s", len(res.op_s))
    res.state["hits"] = sum(len(g) for _, g in got)
    return res


# -- curate -----------------------------------------------------------------

def _curate_pass(ctx: Ctx, input_dir: str, request: str) -> dict:
    spark, tr, out = ctx.spark, ctx.tracer, {}
    text = "content"

    def docs():  # a fresh DataFrame per operator: no AQE stage reuse
        return spark.read.parquet(input_dir)

    with tr.span("curate.quality_lang", request):
        quality_score(docs(), text_col=text).agg(F.sum("quality_score")).collect()
        lang_id(docs(), text_col=text).groupBy("pred_lang").count().collect()
    with tr.span("curate.minhash_lsh", request):
        out["pairs"] = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(
            docs(), text_col=text).select("doc_a", "doc_b").collect()}
    with tr.span("curate.dup_spans", request):
        duplicate_spans(docs(), text_col=text, window=50).count()
    with tr.span("curate.lm_perplexity", request):
        ngram_lm_perplexity(docs(), text_col=text).agg(
            F.sum("logprob_per_token")).collect()
    with tr.span("curate.repetition", request):
        repetition_stats(docs(), text_col=text).agg(
            F.sum("top_ngram_char_frac"), F.sum("dup_ngram_char_frac")).collect()
    with tr.span("curate.curate_chain", request):
        out["survivors"] = curate_corpus(docs(), text_col=text, dedup=True).count()
    return out


def _curation_round(ctx: Ctx, res: Result, corpus_dir: str) -> None:
    """Traced run only: one pass of the curation operators over the build
    corpus plus planted duplicates, after a pass over a few docs; every
    planted exact copy must be an LSH candidate of its source and be the
    one ``curate_corpus`` drops."""
    spark = ctx.spark
    input_dir = ctx.path("curate-input")
    base = res.state["docs"]
    rows, exact_src = gen.planted_duplicates(base, ctx.seed, PLANTED_EXACT,
                                            PLANTED_NEAR)
    planted_dir = ctx.path("planted")
    spark.createDataFrame(rows, CORPUS_SCHEMA).write.parquet(planted_dir)
    ingest(spark.read.parquet(corpus_dir).unionByName(
        spark.read.parquet(planted_dir))).select(
        "doc_id", "content", "lang", "path").write.parquet(input_dir)
    ids = {r["path"]: r["doc_id"] for r in
           spark.read.parquet(input_dir).select("path", "doc_id").collect()}
    planted = [(ids[rows[j][1]], base[i][0]) for j, i in enumerate(exact_src)]
    warm = ctx.path("warmup-input")
    spark.read.parquet(input_dir).limit(WARMUP_DOCS).write.parquet(warm)
    _curate_pass(ctx, warm, "warmup")
    out = _curate_pass(ctx, input_dir, "pass0")
    res.check("minhash_lsh planted pairs", check_lsh(out["pairs"], planted))
    res.check("curate_corpus survivors",
              check_count("survivors", out["survivors"], len(ids) - PLANTED_EXACT))
    passes = [s for s in ctx.tracer.spans
              if s.name.startswith("curate.") and s.request == "pass0"]
    res.metric("curate_docs_per_s", len(ids) / sum(s.s for s in passes),
               "docs/s", 1)


WORKLOADS = {"build-combo": build_combo, "search-mix": search_mix}


# -- per-layer metrics ---------------------------------------------------------

def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layers(tr: Tracer, res: Result) -> dict[str, float]:
    """Per-layer metrics of a traced run; a layer a workload does not
    exercise reports 0."""
    timed = [s for s in tr.spans if s.request is None
             or not s.request.startswith(("warmup", "setup"))]

    def spans(name):
        return [s for s in timed if s.name == name]

    def per_span(sps, fn):
        return _med(fn(s, tr.jobs(s)) for s in sps)

    m: dict[str, float] = {}
    ingest_sp, build_sp = spans("sources.ingest"), spans("index_build")
    m["sources.ingest_s"] = _med(s.s for s in ingest_sp)
    m["sources.bytes"] = per_span(ingest_sp, lambda s, js: sum(j.input_bytes for j in js))

    st = res.state
    an = spans("analysis")
    a_s = _med(s.s for s in an)
    m["analysis.s"] = a_s
    if an:
        o = st["oracle"]
        m["analysis.tokens_per_s"] = sum(o.doc_len.values()) / a_s
        m["analysis.term_doc_rows"] = sum(len(p) for p in o.postings.values())
    m["analysis.py_bytes_sent"] = per_span(an, lambda s, js: sum(j.py_sent for j in js))
    m["analysis.py_bytes_received"] = per_span(
        an, lambda s, js: sum(j.py_received for j in js))

    po = spans("postings")
    m["postings.s"] = _med(s.s for s in po)
    m["postings.shuffle_bytes"] = per_span(po, lambda s, js: sum(j.shuffle_bytes for j in js))
    m["postings.spill_bytes"] = per_span(po, lambda s, js: sum(j.spill_bytes for j in js))
    if po:
        m["postings.rows"] = st["postings_rows"]
        m["postings.bytes_per_posting"] = (
            st["postings_bytes"] / m["analysis.term_doc_rows"])

    ib_s = _med(s.s for s in build_sp)
    m["index_build.s"] = ib_s
    m["index_build.jobs"] = per_span(build_sp, lambda s, js: len(js))
    m["index_build.sched_gap_s"] = per_span(build_sp, idle_s)
    m["index_build.checkpoint_bytes"] = st.get("checkpoint_bytes", 0)
    if an and po:
        m["index_build.other_s"] = ib_s - m["analysis.s"] - m["postings.s"]
    builds = spans("build")
    # what the build spans' children do not cover: the benchmark's own glue
    m["reconcile.build_self_s"] = _med(s.s - tr.children_s(s) for s in builds)

    mt = spans("maintenance")
    for part in ("upsert", "delete", "compact"):
        m[f"maintenance.{part}_s"] = _med(s.s for s in spans(f"maintenance.{part}"))
    comp = spans("maintenance.compact")
    m["maintenance.compact_jobs"] = per_span(comp, lambda s, js: len(js))
    m["maintenance.compact_bytes_written"] = per_span(
        comp, lambda s, js: sum(j.output_bytes for j in js))
    m["maintenance.freshness_s"] = _med(s.s for s in mt)
    if mt:
        m["maintenance.write_amp"] = (
            m["maintenance.compact_bytes_written"] / st["upsert_bytes"])
    m["reconcile.maintenance_self_s"] = _med(s.s - tr.children_s(s) for s in mt)

    qs = [s for s in timed if s.name.startswith("query.")]
    for kind in QUERY_KINDS:
        m[f"query.{kind}.p50_s"] = _med(s.s for s in spans(f"query.{kind}"))
    if qs:
        qjobs = [tr.jobs(s) for s in qs]
        m["query.jobs_per_query"] = sum(map(len, qjobs)) / len(qs)
        m["query.scan_bytes_per_query"] = sum(
            j.input_bytes for js in qjobs for j in js) / len(qs)
        m["query.rows_scanned_per_hit"] = sum(
            j.input_records for js in qjobs for j in js) / max(1, st["hits"])
        m["query.driver_plan_s"] = _med(
            min(j.submit for j in js) - s.start for s, js in zip(qs, qjobs) if js)

    for op in CURATE_OPS:
        sps = spans(f"curate.{op}")
        m[f"curate.{op}_s"] = _med(s.s for s in sps)
        m[f"curate.{op}.shuffle_bytes"] = per_span(
            sps, lambda s, js: sum(j.shuffle_bytes for j in js))
    return m
