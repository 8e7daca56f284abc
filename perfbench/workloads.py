"""The two workloads, `ingest` and `search`, against the engine's public API.

Both build an index and query it, so every end-to-end metric is measured on
both; they differ in where the time goes. `ingest` is write-heavy: a cold
build, overwrite append_segment batches, a delete_by_query, compact and
verify_index, with check queries before and after compaction. `search` is
read-heavy: one cold build, then a warm closed loop of query ops with one
client for the run's seconds.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from inputs import DELETE_REPO_PREFIX, QueryGen, all_versions, live_docs, make_corpus
from reference import Query, Reference, Replay, decode_ratio, mismatch
from spans import Tracer

from ariadna_spark.operators.wand import IndexReader
from ariadna_spark.sources import segments


@dataclass
class Scale:
    ingest_docs: int
    ingest_batches: list[int]
    search_docs: int
    check_queries: int  # distinct check queries per ingest round
    pool: int  # distinct queries per op kind in the search loop
    min_ops: int  # the search loop runs at least this many ops
    warm_s: float  # untimed search ops before the loop, so the JVM's JIT is warm
    batch_size: int = 12  # queries per topk_many call


SCALES = {
    "full": Scale(2500, [250, 250], 2000, 10, 8, 0, 3.0),
    "tiny": Scale(300, [30, 30], 300, 4, 2, 20, 0.0),
}

# op mix of the search loop: each block of 20 ops holds these counts in a
# seeded order; `batch` is one topk_many call
SEARCH_MIX = {"topk": 8, "topk100": 2, "bool": 2, "phrase": 2, "prefix": 2, "dsl": 2, "batch": 2}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    scale: Scale
    tracer: Tracer
    qgen: QueryGen | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)
    op_traced: list[bool] = field(default_factory=list)
    op_log: list[tuple[str, str, float]] = field(default_factory=list)
    batch_queries: int = 0
    batch_s: float = 0.0
    head_ops: int = 0
    results: list[tuple[Query, list, str]] = field(default_factory=list)
    write: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run, reported in the detail record."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)


def load_serve_module(root: str):
    """scripts/serve.py is a script, not a package module: load it by path."""
    spec = importlib.util.spec_from_file_location("ariadna_serve", os.path.join(root, "scripts", "serve.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# -- write path ------------------------------------------------------------------
def _snapshot(path: str) -> dict[str, int]:
    out = {}
    for r, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(r, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _write_op(ctx: Ctx, name: str, index_dir: str, fn):
    """Time one write op; count the files and bytes it leaves on disk."""
    before = _snapshot(index_dir)
    t = time.perf_counter()
    with ctx.tracer.span("segments." + name):
        out = fn()
    dt = time.perf_counter() - t
    after = _snapshot(index_dir)
    new = [p for p, s in after.items() if before.get(p) != s]
    ctx.layers["segments.files_written"] = ctx.layers.get("segments.files_written", 0) + len(new)
    ctx.layers["segments.bytes_written"] = ctx.layers.get("segments.bytes_written", 0) + sum(after[p] for p in new)
    ctx.attempted += 1
    ctx.write.setdefault(name, []).append(dt)
    return out


def write_path(ctx: Ctx, corpus, index_dir: str, delete: bool) -> None:
    spark = ctx.spark
    _write_op(ctx, "build", index_dir, lambda: segments.build_index(spark, corpus.base, index_dir))
    for j, b in enumerate(corpus.batches):
        _write_op(ctx, "append", index_dir,
                  lambda b=b, j=j: segments.append_segment(spark, b, index_dir, build_id=f"a{j}"))
    if delete:
        _write_op(ctx, "delete", index_dir, lambda: segments.delete_by_query(
            spark, index_dir, flt=F.col("repo").startswith(DELETE_REPO_PREFIX)))


def compact_and_verify(ctx: Ctx, index_dir: str) -> None:
    _write_op(ctx, "compact", index_dir, lambda: segments.compact(ctx.spark, index_dir))
    rep = _write_op(ctx, "verify", index_dir, lambda: segments.verify_index(ctx.spark, index_dir))
    if not rep["ok"]:
        ctx.fail(f"verify_index: {rep['errors'][:3]}")


# -- query ops ----------------------------------------------------------------------
class Engine:
    """The query surfaces an op can go through: IndexReader directly, or
    scripts/serve.py's SearchService (the `dsl` ops)."""

    def __init__(self, ctx: Ctx, index_dir: str, serve_mod=None):
        with ctx.tracer.span("wand.reader_open"):
            self.reader = IndexReader(ctx.spark, index_dir)
        self.service = serve_mod.SearchService(ctx.spark, index_dir) if serve_mod else None
        self.ctx = ctx
        if self.service is not None and ctx.tracer.enabled:
            self._trace_dsl()

    def _trace_dsl(self) -> None:
        """Split a dsl op from outside: the compile_search call up to the
        returned DataFrame, and that DataFrame's collect()."""
        import ariadna_spark.query_dsl as qd

        tr, orig = self.ctx.tracer, qd.compile_search

        def compile_search(*a, **kw):
            with tr.span("dsl.compile"):
                df = orig(*a, **kw)
            collect = df.collect

            def timed_collect():
                with tr.span("wand.exec"):
                    return collect()

            df.collect = timed_collect
            return df

        tr.patch(qd, "compile_search", compile_search)

    def _plan(self, q: Query):
        r, p = self.reader, q.p
        if q.kind == "topk":
            return r.topk(p["q"], q.k)
        if q.kind == "prefix":
            return r.prefix_topk(p["q"], q.k)
        if q.kind == "phrase":
            return r.phrase_topk(p["q"], q.k)
        if q.kind == "bool":
            return r.bool_topk(p["must"], p["should"], p["must_not"], k=q.k)
        raise ValueError(q.kind)

    def execute(self, q: Query) -> list[tuple[int, float]]:
        tr = self.ctx.tracer
        if q.kind == "dsl":
            with tr.span("serve.service"):
                resp = self.service.es_search(dsl_body(q))
            return [(int(h["_id"]), float(h["_score"])) for h in resp["hits"]["hits"]]
        with tr.span("wand.plan"):
            df = self._plan(q)
        with tr.span("wand.exec"):
            rows = df.collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def execute_batch(self, qs: list[Query]) -> list[list[tuple[int, float]]]:
        tr = self.ctx.tracer
        with tr.span("wand.plan"):
            df = self.reader.topk_many([(i, q.p["q"], q.k) for i, q in enumerate(qs)])
        with tr.span("wand.exec"):
            rows = df.collect()
        out: list[list] = [[] for _ in qs]
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
        return out


def dsl_body(q: Query) -> dict:
    p = q.p
    return {
        "size": q.k,
        "query": {"bool": {
            "must": [{"match": {"content": p["must"]}}],
            "should": [{"match": {"content": p["should"]}}],
            "filter": [{"term": {"lang": p["lang"]}}],
        }},
    }


def run_op(ctx: Ctx, eng: Engine, op_id: int, item, label: str = "") -> None:
    """One timed op (a Query, or a list of Queries for one topk_many batch).
    With tracing on, every other op runs untraced so the run can report
    tracing overhead; results are kept for the correctness gate."""
    tr = ctx.tracer
    traced = tr.enabled and op_id % 2 == 0
    kind = "batch" if isinstance(item, list) else item.kind
    qs = item if isinstance(item, list) else [item]
    got = None
    t = time.perf_counter()
    try:
        with tr.op(f"op{op_id}", kind) if traced else tr.paused():
            got = eng.execute_batch(item) if kind == "batch" else [eng.execute(item)]
    except Exception as e:  # noqa: BLE001 — an op failure is counted, never dropped
        ctx.fail(f"{label}{kind} {qs[0].p}: {type(e).__name__}: {e}")
    dt = time.perf_counter() - t
    ctx.attempted += 1
    ctx.op_ms.append(dt * 1000.0)
    ctx.op_traced.append(traced)
    ctx.op_log.append((label, kind, round(dt * 1000.0, 1)))
    ctx.head_ops += any(ctx.qgen.has_head(q.text()) for q in qs)
    if kind == "batch":
        ctx.batch_queries += len(qs)
        ctx.batch_s += dt
    if got is not None:
        for q, rows in zip(qs, got):
            ctx.results.append((q, rows, label))


def corrupt_one(ctx: Ctx) -> None:
    """Self-test hook: shift one recorded score so the gate must catch it."""
    q, rows, label = ctx.results[0]
    rows = [(d, s + 1.0) for d, s in rows] or [(-1, 0.0)]
    ctx.results[0] = (q, rows, label)


def check(ctx: Ctx, ref: Reference, label: str, versions: bool = False) -> None:
    """Compare every recorded op of `label` with the reference scorer
    (`versions`: df over every indexed version, for a store not yet compacted).
    Without `versions`, one plain query also cross-checks the reference
    against bm25_topk_from_stats."""
    mine = [(q, rows) for q, rows, lb in ctx.results if lb == label]
    plain = next((q for q, _ in mine if q.kind == "topk"), None)
    if plain is not None and not versions:
        ctx.attempted += 1
        msg = ref.oracle_agrees(plain)
        if msg:
            ctx.fail(f"{label}reference vs bm25_topk_from_stats {plain.p}: {msg}")
    want = ref.expected([q for q, _ in mine], versions)
    ctx.layers["check.queries"] = ctx.layers.get("check.queries", 0) + len({q.key for q, _ in mine})
    for q, rows in mine:
        msg = mismatch(rows, want[q.key])
        if msg:
            ctx.layers["check.mismatches"] = ctx.layers.get("check.mismatches", 0) + 1
            ctx.fail(f"{label}{q.kind} {q.p}: {msg}")


def replay(ctx: Ctx, eng: Engine, ref: Reference, label: str) -> None:
    """Traced runs only: prune counters of the WAND kernels, per op kind."""
    rp = Replay(eng.reader.out_dir, eng.reader.stats["N"], eng.reader.stats["avgdl"])
    seen = set()
    for q, rows, lb in ctx.results:
        if lb != label or q.kind not in ("topk", "bool", "prefix", "batch") or q.key in seen:
            continue
        seen.add(q.key)
        kind = "topk" if q.kind == "batch" else q.kind
        got, st = rp.run(Query("topk" if kind == "prefix" else kind, q.k, **q.p),
                         q.score_terms(ref.vocab))
        if mismatch(got, rows):
            ctx.fail(f"replay {q.kind} {q.p}: kernel replay disagrees with the engine")
        for key, v in (("blocks_total", st["n_blocks_total"]), ("blocks_decoded", st["n_blocks_decoded"])):
            ctx.layers[f"wand.{key}"] = ctx.layers.get(f"wand.{key}", 0) + v
            ctx.layers[f"_{kind}.{key}"] = ctx.layers.get(f"_{kind}.{key}", 0) + v
    ctx.layers["varint.decode_s"] = ctx.layers.get("varint.decode_s", 0.0) + rp.decode_s
    ctx.layers["varint.blocks_decoded"] = ctx.layers.get("varint.blocks_decoded", 0) + rp.blocks_decoded_varint


def content_bytes(docs) -> int:
    return int(docs.agg(F.sum(F.octet_length("content"))).collect()[0][0])


def dir_bytes(path: str) -> int:
    return sum(_snapshot(path).values())


# -- standalone layer costs (traced runs only) -------------------------------------
def standalone_layers(ctx: Ctx, docs, work: str) -> None:
    """stats.tokenize_s: term_freqs_dl alone to a noop sink; postings.build_s:
    build_postings alone on a materialized tf (costs in isolation, not parts
    of segments.build_s)."""
    from ariadna_spark.operators.postings import build_postings
    from ariadna_spark.stats import corpus_scalars, doc_lengths, term_freqs_dl

    spark = ctx.spark
    with ctx.tracer.span("stats.tokenize"):
        term_freqs_dl(docs, with_positions=True).write.format("noop").mode("overwrite").save()
    tf_path = os.path.join(work, "tf_standalone")
    term_freqs_dl(docs, with_positions=True).write.mode("overwrite").parquet(tf_path)
    tf = spark.read.parquet(tf_path)
    n, avgdl = corpus_scalars(doc_lengths(tf))
    with ctx.tracer.span("postings.build"):
        build_postings(tf, n, avgdl).write.format("noop").mode("overwrite").save()


def index_counts(ctx: Ctx, index_dir: str) -> None:
    """Tokens, postings and blocks of the compacted store, read from its files."""
    import json

    import pyarrow.parquet as pq

    store = segments.SegmentStore(index_dir)
    (bid,) = store.live_builds()
    bdir = store.build_dir(bid)
    with open(os.path.join(bdir, "stats.json")) as f:
        ctx.layers["stats.tokens"] = int(json.load(f)["total_tokens"])
    postings = blocks = 0
    for r, _, fs in os.walk(bdir):
        if os.path.basename(r).startswith("bucket=") and os.path.dirname(r) == bdir:
            for f in fs:
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(r, f), columns=["n_docs"])
                    blocks += t.num_rows
                    postings += int(t.column("n_docs").to_numpy().sum())
    ctx.layers["postings.postings"] = postings
    ctx.layers["postings.blocks"] = blocks


# -- workloads -----------------------------------------------------------------------
def ingest(ctx: Ctx, t_start: float, corrupt: bool = False) -> None:
    sc = ctx.scale
    with ctx.tracer.span("corpus.gen"):
        corpus = make_corpus(ctx.spark, ctx.work, sc.ingest_docs, sc.ingest_batches, ctx.seed)
    qgen = ctx.qgen = QueryGen(ctx.seed)
    checks = [Query("topk", 10, q=qgen.match()) for _ in range(sc.check_queries)]
    checks += [Query("bool", 10, must=m, should=s, must_not=n) for m, s, n in
               (qgen.bool_clauses() for _ in range(2))]
    batches = [[Query("batch", 10, q=qgen.match()) for _ in range(sc.batch_size)] for _ in range(2)]
    # before compaction: a check subset; after: all checks and both batches.
    # Only post-compaction ops enter the latency metrics: the multi-segment
    # store before it is a transient state.
    rounds = {"pre:": [checks[0], checks[1], checks[2], checks[-1]],
              "post:": checks + batches}
    ctx.layers["setup_s"] = time.perf_counter() - t_start

    idx = os.path.join(ctx.work, "index")
    write_path(ctx, corpus, idx, delete=True)
    op_id = 0
    for label in ("pre:", "post:"):
        if label == "post:":
            compact_and_verify(ctx, idx)
        eng = Engine(ctx, idx)
        with ctx.tracer.paused():
            eng.execute(checks[0])  # warm the new reader's first plan; not an op
        for item in rounds[label]:
            run_op(ctx, eng, op_id, item, label)
            op_id += 1

    if corrupt:
        corrupt_one(ctx)
    live = live_docs(corpus, deleted=True)
    with ctx.phase("reference"):
        ref = Reference(live, all_versions(corpus))
    with ctx.phase("check"):
        check(ctx, ref, "pre:", versions=True)
        check(ctx, ref, "post:")
        ctx.layers["_content_bytes"] = content_bytes(live)
    ctx.layers["_index_bytes"] = dir_bytes(idx)
    if ctx.tracer.enabled:
        with ctx.phase("replay"):
            replay(ctx, eng, ref, "post:")
        index_counts(ctx, idx)
        standalone_layers(ctx, corpus.base, ctx.work)
    ref.close()


def search(ctx: Ctx, t_start: float, root: str, corrupt: bool = False) -> None:
    sc = ctx.scale
    with ctx.tracer.span("corpus.gen"):
        corpus = make_corpus(ctx.spark, ctx.work, sc.search_docs, [], ctx.seed)
    idx = os.path.join(ctx.work, "index")
    write_path(ctx, corpus, idx, delete=False)  # one build: a single-segment store
    eng = Engine(ctx, idx, load_serve_module(root))

    qgen = ctx.qgen = QueryGen(ctx.seed)
    pools = {
        "topk": [Query("topk", 10, q=qgen.match()) for _ in range(sc.pool * 3)],
        "topk100": [Query("topk", 100, q=qgen.match()) for _ in range(sc.pool)],
        "bool": [Query("bool", 10, must=m, should=s, must_not=n)
                 for m, s, n in (qgen.bool_clauses() for _ in range(sc.pool))],
        "phrase": [Query("phrase", 10, q=qgen.phrase()) for _ in range(sc.pool)],
        "prefix": [Query("prefix", 10, q=qgen.prefix()) for _ in range(sc.pool)],
        "dsl": [Query("dsl", 10, must=m, should=s or qgen.term("middle"), must_not="", lang=qgen.lang())
                for m, s, _ in (qgen.bool_clauses() for _ in range(sc.pool))],
        "batch": [[Query("batch", 10, q=qgen.match()) for _ in range(sc.batch_size)]
                  for _ in range(max(1, sc.pool // 2))],
    }
    block = [kind for kind, n in SEARCH_MIX.items() for _ in range(n)]

    def draw(op_id: int):
        if op_id % len(block) == 0:
            qgen.rng.shuffle(block)
        pool = pools[block[op_id % len(block)]]
        return pool[int(qgen.rng.integers(len(pool)))]

    # warm-up: untimed ops round-robin over the kinds (not drawn from the
    # seeded schedule, which must not depend on timing): each kind once,
    # then on for warm_s
    kinds, t_warm = list(SEARCH_MIX), None
    with ctx.tracer.paused():
        for i in itertools.count():
            pool = pools[kinds[i % len(kinds)]]
            item = pool[(i // len(kinds)) % len(pool)]
            if isinstance(item, list):
                eng.execute_batch(item)
            else:
                eng.execute(item)
            if i == len(kinds) - 1:
                t_warm = time.perf_counter()
            if t_warm is not None and time.perf_counter() - t_warm >= sc.warm_s:
                break
    ctx.layers["setup_s"] = time.perf_counter() - t_start

    t0 = time.perf_counter()
    op_id = 0
    while time.perf_counter() - t0 < ctx.seconds or op_id < sc.min_ops:
        run_op(ctx, eng, op_id, draw(op_id), "loop:")
        op_id += 1
    ctx.layers["_loop_s"] = time.perf_counter() - t0
    if corrupt:
        corrupt_one(ctx)

    live = corpus.base
    with ctx.phase("reference"):
        ref = Reference(live)
    with ctx.phase("check"):
        check(ctx, ref, "loop:")
        ctx.layers["_content_bytes"] = content_bytes(live)
    ctx.layers["_index_bytes"] = dir_bytes(idx)
    if ctx.tracer.enabled:
        with ctx.phase("replay"):
            replay(ctx, eng, ref, "loop:")
        index_counts(ctx, idx)
        standalone_layers(ctx, corpus.base, ctx.work)
    ref.close()


# -- metrics ---------------------------------------------------------------------------
def end_to_end(ctx: Ctx, n_build: int) -> dict:
    L = ctx.layers
    # single-query ops only: batches are measured by batch_queries_per_s
    ms = [m for (label, kind, _), m in zip(ctx.op_log, ctx.op_ms) if label != "pre:" and kind != "batch"]
    return {
        "setup_s": (L["setup_s"], "s"),
        "build_docs_per_s": (n_build / ctx.write["build"][0], "docs/s"),
        "index_bytes_per_content_byte": (L["_index_bytes"] / L["_content_bytes"], "ratio"),
        "query_p50_ms": (statistics.median(ms), "ms"),
        "query_p90_ms": (statistics.quantiles(ms, n=10, method="inclusive")[8], "ms"),
        "batch_queries_per_s": (ctx.batch_queries / ctx.batch_s, "queries/s"),
    }


def per_layer(ctx: Ctx) -> dict:
    tr, L = ctx.tracer, ctx.layers

    def med(name):
        xs = tr.durations(name)
        return statistics.median(xs) if xs else 0.0

    def total(name):
        return sum(tr.durations(name))

    def per_op(key):
        xs = [s[key] for s in tr.op_stats]
        return statistics.median(xs) if xs else 0.0

    traced = [m for m, t in zip(ctx.op_ms, ctx.op_traced) if t]
    untraced = [m for m, t in zip(ctx.op_ms, ctx.op_traced) if not t]
    # serve.wait_s per dsl op: service time minus compile minus collect
    waits = []
    for s in tr.spans:
        if s["name"] == "serve.service":
            kids = [c for c in tr.spans if c["parent"] == s["id"]]
            waits.append((s["end"] - s["start"]) - sum(
                c["end"] - c["start"] for c in kids if c["name"] in ("dsl.compile", "wand.exec")))
    out = {
        "session.start_s": (L.get("session.start_s", 0.0), "s"),
        "corpus.gen_s": (total("corpus.gen"), "s"),
        "stats.tokenize_s": (total("stats.tokenize"), "s"),
        "stats.tokens": (L.get("stats.tokens", 0), "count"),
        "postings.build_s": (total("postings.build"), "s"),
        "postings.postings": (L.get("postings.postings", 0), "count"),
        "postings.blocks": (L.get("postings.blocks", 0), "count"),
        "segments.build_s": (total("segments.build"), "s"),
        "segments.append_s": (total("segments.append"), "s"),
        "segments.delete_s": (total("segments.delete"), "s"),
        "segments.compact_s": (total("segments.compact"), "s"),
        "segments.verify_s": (total("segments.verify"), "s"),
        "segments.files_written": (L.get("segments.files_written", 0), "count"),
        "segments.bytes_written": (L.get("segments.bytes_written", 0), "bytes"),
        "varint.decode_s": (L.get("varint.decode_s", 0.0), "s"),
        "varint.blocks_decoded": (L.get("varint.blocks_decoded", 0), "count"),
        "wand.reader_open_s": (med("wand.reader_open"), "s"),
        "wand.plan_s": (med("wand.plan"), "s"),
        "wand.exec_s": (med("wand.exec"), "s"),
        "wand.py4j_calls": (per_op("py4j_calls"), "count"),
        "wand.jobs": (per_op("jobs"), "count"),
        "wand.stages": (per_op("stages"), "count"),
        "wand.tasks": (per_op("tasks"), "count"),
        "wand.blocks_total": (L.get("wand.blocks_total", 0), "count"),
        "wand.blocks_decoded": (L.get("wand.blocks_decoded", 0), "count"),
        "wand.decode_ratio": (decode_ratio(L.get("wand.blocks_decoded", 0), L.get("wand.blocks_total", 0)), "ratio"),
        "dsl.compile_s": (med("dsl.compile"), "s"),
        "serve.service_s": (med("serve.service"), "s"),
        "serve.wait_s": (statistics.median(waits) if waits else 0.0, "s"),
        "check.queries": (L.get("check.queries", 0), "count"),
        "check.mismatches": (L.get("check.mismatches", 0), "count"),
        "trace.overhead_ms": (
            statistics.median(traced) - statistics.median(untraced) if traced and untraced else 0.0, "ms"),
    }
    for kind in ("topk", "bool", "prefix"):
        out[f"wand.decode_ratio.{kind}"] = (
            decode_ratio(L.get(f"_{kind}.blocks_decoded", 0), L.get(f"_{kind}.blocks_total", 0)), "ratio")
    return out
