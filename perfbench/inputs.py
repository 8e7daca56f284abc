"""Seeded inputs: the synthetic code corpus, overwrite batches and query pools.

The corpus comes from ``synth_code_corpus_distributed(..., seed=)``. Its
docs past the base count form the overwrite batches: each takes the
``(repo, path)`` key of a seeded base doc, so appending it tombstones that
doc. Query terms are drawn from the generator's own Zipf vocabulary, after
the engine's analyzer, split into head, middle and tail by token mass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ariadna_spark.analyze import tokenize_py
from ariadna_spark.corpus import DOCS_COLUMNS, _vocab_and_cumw, synth_code_corpus_distributed

HEAD_N = 10  # analyzed tokens with the most generator mass
MIDDLE_N = 200
LANGS = ["python", "go", "java", "js", "c"]
# docs of repos org7/* are removed by the ingest workload's delete_by_query
DELETE_REPO_PREFIX = "org7/"


@dataclass
class Corpus:
    base: DataFrame
    batches: list[DataFrame]
    victims: list[np.ndarray]  # per batch: the base doc ids it overwrites


def make_corpus(spark, work: str, n_base: int, batch_sizes: list[int], seed: int) -> Corpus:
    """Base corpus plus overwrite batches, generated in one seeded pass and
    materialized as parquet in `work`. Docs n_base.. form the batches: each
    takes the (repo, path) key of a distinct seeded victim among the base docs."""
    n_total = n_base + sum(batch_sizes)
    rng = np.random.default_rng(seed)
    victims = np.sort(rng.permutation(n_base)[: sum(batch_sizes)])
    rng.shuffle(victims)
    vic = F.element_at(
        F.array(*[F.lit(int(x)) for x in victims]), (F.col("doc_id") - n_base + 1).cast("int")
    )
    key_id = F.when(F.col("doc_id") < n_base, F.col("doc_id")).otherwise(vic) if batch_sizes else F.col("doc_id")
    docs = (
        synth_code_corpus_distributed(spark, n_total, seed=seed)
        .withColumn("repo", F.format_string("org%d/proj%d", key_id % 97, key_id % 31))
        .withColumn("path", F.format_string("src/m%d/file_%d.py", key_id % 13, key_id))
        .select(*DOCS_COLUMNS)
    )
    path = os.path.join(work, "corpus")
    docs.write.parquet(path)
    docs = spark.read.parquet(path)
    batches, bounds, off = [], [], n_base
    for m in batch_sizes:
        batches.append(docs.filter((F.col("doc_id") >= off) & (F.col("doc_id") < off + m)))
        bounds.append(victims[off - n_base : off - n_base + m])
        off += m
    base = docs.filter(F.col("doc_id") < n_base)
    return Corpus(base, batches, bounds)


def live_docs(corpus: Corpus, deleted: bool) -> DataFrame:
    """The docs a store holds after every append (and the delete)."""
    dead = [int(x) for v in corpus.victims for x in v]
    live = corpus.base.filter(~F.col("doc_id").isin(dead)) if dead else corpus.base
    for b in corpus.batches:
        live = live.unionByName(b)
    if deleted:
        live = live.filter(~F.col("repo").startswith(DELETE_REPO_PREFIX))
    return live


def all_versions(corpus: Corpus) -> DataFrame:
    """Every doc version a store has indexed, dead or alive."""
    out = corpus.base
    for b in corpus.batches:
        out = out.unionByName(b)
    return out


# -- queries ------------------------------------------------------------------
def term_classes() -> dict[str, list[str]]:
    """Analyzed vocabulary split into head / middle / tail by generator mass."""
    vocab, cumw = _vocab_and_cumw()
    w = np.diff(np.concatenate([[0.0], cumw]))
    mass: dict[str, float] = {}
    for word, p in zip(vocab, w):
        for t in tokenize_py(str(word)):
            mass[t] = mass.get(t, 0.0) + p
    ranked = sorted(mass, key=lambda t: (-mass[t], t))
    return {
        "head": ranked[:HEAD_N],
        "middle": ranked[HEAD_N : HEAD_N + MIDDLE_N],
        "tail": ranked[HEAD_N + MIDDLE_N :],
    }


class QueryGen:
    """Seeded draws of query terms: 1-4 terms from head, middle and tail."""

    P_CLASS = {"head": 0.3, "middle": 0.4, "tail": 0.3}

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.classes = term_classes()
        self.head = set(self.classes["head"])
        vocab, _ = _vocab_and_cumw()
        # multi-token identifiers among the generator's most frequent words
        self.identifiers = [
            toks for toks in (tokenize_py(str(w)) for w in vocab[: HEAD_N + MIDDLE_N]) if len(toks) > 1
        ]

    def term(self, cls: str | None = None) -> str:
        if cls is None:
            cls = self.rng.choice(list(self.P_CLASS), p=list(self.P_CLASS.values()))
        pool = self.classes[cls]
        return pool[int(self.rng.integers(len(pool)))]

    def terms(self, n_min: int = 1, n_max: int = 4) -> list[str]:
        out: list[str] = []
        n = int(self.rng.integers(n_min, n_max + 1))
        while len(out) < n:
            t = self.term()
            if t not in out:
                out.append(t)
        return out

    def match(self) -> str:
        return " ".join(self.terms())

    def bool_clauses(self) -> tuple[str, str, str]:
        must = self.term(self.rng.choice(["head", "middle"]))
        should = [t for t in self.terms(1, 2) if t != must]
        must_not = self.term("tail")
        if must_not in should or must_not == must:
            must_not = ""
        return must, " ".join(should), must_not

    def phrase(self) -> str:
        """A multi-token identifier of the generator vocabulary: the
        analyzer splits it into consecutive tokens, so it occurs as a phrase."""
        return " ".join(self.identifiers[int(self.rng.integers(len(self.identifiers)))])

    def prefix(self) -> str:
        """`symNNN`: expands to symNNN and symNNN0-9, well under the cap."""
        return f"sym{int(self.rng.integers(100, 200))}"

    def lang(self) -> str:
        return LANGS[int(self.rng.integers(len(LANGS)))]

    def has_head(self, text: str) -> bool:
        return any(t in self.head for t in tokenize_py(text))
