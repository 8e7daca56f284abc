"""Correctness gate and pruning replay, both run outside the timed region.

The reference scorer is the brute-force BM25 of ``operators.topk``: the
``bm25_expr`` contribution of every (doc, term) pair over plain DataFrames,
summed per doc. All term contributions a run needs come from ONE Spark job;
per query they are summed on the driver, and verb semantics the brute-force
scorer has no notion of (bool must/must_not, phrase adjacency, the filter
context) are applied there too. Each run also checks that this per-term
decomposition agrees with ``operators.topk.bm25_topk_from_stats`` itself on
one query.

For a store with tombstones the engine keeps df over every indexed version
until compaction (Lucene's deleted-docs semantics, documented in wand.py);
the reference reproduces that by taking df over all versions, clamped to
the live doc count as the engine does.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ariadna_spark.analyze import _tokenize_series, tokenize_py
from ariadna_spark.functions.bm25 import bm25_expr
from ariadna_spark.operators.topk import bm25_topk_from_stats
from ariadna_spark.stats import corpus_scalars, doc_freqs, doc_lengths, term_freqs

SCORE_TOL = 1e-6


class Query:
    """One distinct query: its verb, parameters and the term set it scores."""

    def __init__(self, kind: str, k: int, **p):
        self.kind, self.k, self.p = kind, k, p
        self.key = (kind, k, tuple(sorted(p.items())))
        # analyzed clauses, once: the analyzer is far too slow per doc
        self.tokens = {n: tokenize_py(v) if v else [] for n, v in p.items() if n != "lang"}

    def text(self) -> str:
        """The query's text parameters (not its filter values)."""
        return " ".join(v for n, v in sorted(self.p.items()) if n != "lang")

    def score_terms(self, vocab: list[str]) -> list[str]:
        tk = self.tokens
        if self.kind in ("topk", "batch", "phrase"):
            return sorted(set(tk["q"]))
        if self.kind == "prefix":
            return sorted(t for t in vocab if t.startswith(tk["q"][0]))
        if self.kind in ("bool", "dsl"):
            return sorted(set(tk["must"]) | set(tk["should"]))
        raise ValueError(self.kind)


class Reference:
    def __init__(self, live: DataFrame, versions: DataFrame | None = None):
        """`live`: docs the store serves; `versions`: every indexed version
        (None when the store holds no dead versions)."""
        self.live = live
        self.tf = term_freqs(live).persist()
        self.dl = doc_lengths(self.tf)
        self.n, self.avgdl = corpus_scalars(self.dl)
        self.dfreq = doc_freqs(self.tf).persist()
        self.vocab = sorted(r["term"] for r in self.dfreq.select("term").collect())
        self.dfreq_versions = None
        if versions is not None:
            clamp = F.least(F.col("df"), F.lit(self.n))
            self.dfreq_versions = doc_freqs(term_freqs(versions)).withColumn("df", clamp).persist()

    def close(self) -> None:
        for d in (self.tf, self.dfreq, self.dfreq_versions):
            if d is not None:
                d.unpersist()

    def _dfreq(self, versions: bool):
        return self.dfreq_versions if versions else self.dfreq

    def _contributions(self, terms: list[str], versions: bool) -> dict[int, dict[str, float]]:
        """doc_id -> {term: BM25 contribution} for every live doc holding a term."""
        dfreq = self._dfreq(versions)
        rows = (
            self.tf.filter(F.col("term").isin(terms))
            .join(F.broadcast(dfreq.filter(F.col("term").isin(terms))), "term")
            .join(self.dl, "doc_id")
            .select("doc_id", "term",
                    bm25_expr(F.col("tf"), F.col("df"), F.col("doc_len"), self.n, self.avgdl).alias("c"))
            .collect()
        )
        out: dict[int, dict[str, float]] = defaultdict(dict)
        for r in rows:
            out[int(r["doc_id"])][r["term"]] = float(r["c"])
        return out

    def expected(self, queries: list[Query], versions: bool = False) -> dict:
        """Query.key -> reference top-k [(doc_id, score)]; `versions` takes df
        over every indexed version."""
        needed = set()
        for q in queries:
            needed |= set(q.score_terms(self.vocab)) | set(q.tokens.get("must_not", []))
        contrib = self._contributions(sorted(needed), versions) if needed else {}
        lang, tokens = self._doc_attrs(queries, contrib)
        out = {}
        for q in queries:
            terms = q.score_terms(self.vocab)
            rows = []
            for d, c in contrib.items():
                if any(t in c for t in terms) and self._admits(q, c, lang.get(d), tokens.get(d)):
                    rows.append((d, sum(c[t] for t in terms if t in c)))
            rows.sort(key=lambda r: (-r[1], r[0]))
            out[q.key] = rows[: q.k]
        return out

    def _doc_attrs(self, queries, contrib) -> tuple[dict, dict]:
        """lang of every live doc (dsl filter) and the token streams of the
        docs that hold every term of some phrase query."""
        lang, tokens = {}, {}
        if any(q.kind == "dsl" for q in queries):
            lang = {int(r["doc_id"]): r["lang"] for r in self.live.select("doc_id", "lang").collect()}
        cands = set()
        for q in queries:
            if q.kind == "phrase":
                ph = set(q.tokens["q"])
                cands |= {d for d, c in contrib.items() if ph <= set(c)}
        if cands:
            pdf = self.live.filter(F.col("doc_id").isin(sorted(cands))).select("doc_id", "content").toPandas()
            tokens = dict(zip(pdf["doc_id"].tolist(), _tokenize_series(pdf["content"]).tolist()))
        return lang, tokens

    @staticmethod
    def _admits(q: Query, terms, lang, toks) -> bool:
        tk = q.tokens
        if q.kind in ("bool", "dsl"):
            if not all(t in terms for t in tk["must"]):
                return False
            if any(t in terms for t in tk.get("must_not", [])):
                return False
            if q.kind == "dsl" and lang != q.p["lang"]:
                return False
        if q.kind == "phrase":
            if toks is None:
                return False
            ph = tk["q"]
            n = len(ph)
            return any(toks[i : i + n] == ph for i in range(len(toks) - n + 1))
        return True

    def oracle_agrees(self, q: Query) -> str | None:
        """Cross-check this reference against bm25_topk_from_stats on one
        plain match query; None when they agree."""
        want = self.expected([q])[q.key]
        rows = bm25_topk_from_stats(self.tf, self.dfreq, self.dl, self.n, self.avgdl,
                                    q.score_terms(self.vocab), k=q.k).collect()
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        return mismatch(got, want)


def mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when doc ids match exactly and scores within SCORE_TOL."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"doc ids {[d for d, _ in got]} != reference {[d for d, _ in want]}"
    bad = [(d, s, w) for (d, s), (_, w) in zip(got, want) if abs(s - w) > SCORE_TOL]
    if bad:
        return f"scores differ beyond {SCORE_TOL}: {bad[:3]}"
    return None


# -- pruning replay -------------------------------------------------------------
class Replay:
    """Re-run the WAND kernels on the driver, once per doc-id range, over the
    query terms' blocks read straight from a single-build store's files, and
    collect the kernels' own pruning counters (``prune_stats``)."""

    def __init__(self, index_dir: str, n_docs: int, avgdl: float):
        from ariadna_spark.sources.segments import SegmentStore

        store = SegmentStore(index_dir)
        (self.build_id,) = store.live_builds()
        self.bdir = store.build_dir(self.build_id)
        with open(os.path.join(self.bdir, "stats.json")) as f:
            self.n_buckets = json.load(f)["n_buckets"]
        self.n_docs, self.avgdl = n_docs, avgdl
        self.decode_s = 0.0
        self.blocks_decoded_varint = 0

    def _blocks(self, terms: list[str]) -> pd.DataFrame:
        import pyarrow.parquet as pq

        from ariadna_spark.sources.segments import term_bucket_py

        frames = []
        for b in sorted({term_bucket_py(t, self.n_buckets) for t in terms}):
            for f in sorted(glob.glob(os.path.join(self.bdir, f"bucket={b}", "*.parquet"))):
                t = pq.read_table(f, filters=[("term", "in", terms)])
                frames.append(t.drop(["pos_varint"]).to_pandas())
        pdf = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
        if pdf.empty:
            return pdf
        pdf["df"] = pdf.groupby("term")["n_docs"].transform("sum").astype("int64")
        pdf["bid"] = self.build_id
        pdf["scale"] = 1.0
        pdf["is_tomb"] = False
        return pdf

    def run(self, q: Query, terms: list[str]) -> tuple[list[tuple[int, float]], dict]:
        from ariadna_spark.operators import wand

        if q.kind == "bool":  # the kernel needs must_not blocks to exclude docs
            terms = sorted(set(terms) | set(q.tokens["must_not"]))
        pdf = self._blocks(terms)
        totals = {"n_blocks_total": 0, "n_blocks_decoded": 0}
        if pdf.empty:
            return [], totals
        rs = wand.RANGE_SIZE_DEFAULT
        pdf["rid"] = [list(range(a // rs, b // rs + 1)) for a, b in zip(pdf["first_doc_id"], pdf["last_doc_id"])]
        pdf = pdf.explode("rid").reset_index(drop=True)
        pdf["rid"] = pdf["rid"].astype("int64")
        outs = []
        orig = (wand.delta_decode_ids, wand.varint_decode)
        wand.delta_decode_ids, wand.varint_decode = self._timed(orig[0], True), self._timed(orig[1], False)
        try:
            for _, g in pdf.groupby("rid"):
                st: dict = {}
                g = g.reset_index(drop=True)
                if q.kind == "bool":
                    tk = q.tokens
                    out = wand.bool_kernel(
                        g, self.n_docs, self.avgdl, q.k, rs, sorted(set(tk["must"])),
                        sorted(set(tk["should"])), sorted(set(tk["must_not"])), prune_stats=st,
                    )
                else:
                    out = wand.wand_kernel(g, self.n_docs, self.avgdl, q.k, rs, prune_stats=st)
                outs.append(out)
                for key in totals:
                    totals[key] += st.get(key, 0)
        finally:
            wand.delta_decode_ids, wand.varint_decode = orig
        res = pd.concat(outs, ignore_index=True)
        res = res.sort_values(["score", "doc_id"], ascending=[False, True]).head(q.k)
        return [(int(d), float(s)) for d, s in zip(res["doc_id"], res["score"])], totals

    def _timed(self, fn, count: bool):
        def wrapped(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.decode_s += time.perf_counter() - t
                if count:
                    self.blocks_decoded_varint += 1

        return wrapped


def decode_ratio(decoded: int, total: int) -> float:
    return decoded / total if total else 0.0

