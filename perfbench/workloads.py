"""Workload definitions and deterministic input generation.

The web is a fixed function of the workload (document corpus, host count,
page size); ``--seed`` only picks which pages seed the crawl. The engine is
handed the generated ``pages`` table, the seed URLs and a ``CrawlConfig`` —
nothing else.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

import numpy as np
import pandas as pd

# The synthetic web's host formula: host(d) = 0 if d % MEGA_MOD == 0 else
# d % n_hosts (host 0 is the ~23% mega-host). Mirrors
# webcrawl_spark.sources.synth_web, restated here so the reference never
# imports the engine.
MEGA_MOD = 5
LINK_MULT = 31
LINK_STEP = 7

CORPUS_SEED = 20_241_017  # fixed: the corpus never changes with --seed
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "frontier crawl host page link seen round bloom seq state commit parse "
    "decode fetch queue depth budget polite robots canon scope text html url"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_docs: int           # pages in the web
    n_hosts: int          # host count (host 0 is the mega-host)
    text_repeat: int      # body = document text repeated (page size knob)
    budget: int           # per-host per-round politeness budget
    rounds: int           # rounds per crawl (CrawlConfig.max_rounds)
    n_seeds: int          # seed URLs, chosen by --seed
    num_partitions: int   # CrawlConfig.num_partitions
    bloom_min_seen: int   # CrawlConfig.bloom_min_seen
    resume_after: int = 0  # >0: stop after this many rounds, resume fresh

    def config(self):
        from webcrawl_spark.sources import synth_web as SW

        return SW.crawl_config(
            num_partitions=self.num_partitions,
            max_connections_per_server=self.budget,
            max_rounds=self.rounds,
            bloom_min_seen=self.bloom_min_seen,
        )

    def warmup(self) -> "Workload":
        """The warm-up crawl: one round from an eighth of the seeds, with the
        Bloom check forced on so its stage has run once too."""
        return replace(self, rounds=1, resume_after=0, bloom_min_seen=0,
                       n_seeds=max(1, self.n_seeds // 8))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl_wide",
            why="~10 KB pages over 256 hosts, ~550 rows a round, Bloom check "
                "firing: per-row layers do most of the work",
            n_docs=4_000, n_hosts=256, text_repeat=32, budget=3, rounds=2,
            n_seeds=512, num_partitions=8,
            # config, not scale, crosses the Bloom gate: a web past the
            # 100k default would not fit the run time
            bloom_min_seen=500,
        ),
        Workload(
            name="crawl_deep",
            why="~0.5 KB pages over 32 hosts, small budget, stopped halfway "
                "and resumed: fixed per-round cost and state reads dominate",
            n_docs=4_000, n_hosts=32, text_repeat=1, budget=3, rounds=4,
            n_seeds=256, num_partitions=4,
            bloom_min_seen=100_000, resume_after=1,
        ),
    )
}


def host_of(d: int, n_hosts: int) -> int:
    return 0 if d % MEGA_MOD == 0 else d % n_hosts


def url_of(d: int, n_hosts: int) -> str:
    return f"http://site{host_of(d, n_hosts)}.test/doc{d}.html"


def seed_docs(w: Workload, seed: int) -> list:
    """The crawl's seed pages: ``n_seeds`` distinct doc ids drawn by
    ``seed``, in draw order (the order is the seeds' sequence order)."""
    rng = np.random.default_rng(seed)
    return [int(d) for d in rng.choice(w.n_docs, size=w.n_seeds, replace=False)]


def seed_urls(w: Workload, seed: int) -> list:
    return [url_of(d, w.n_hosts) for d in seed_docs(w, seed)]


def documents_frame(n_docs: int) -> pd.DataFrame:
    """The corpus: (doc_id, text, lang), ~300 characters a document, a pure
    function of ``n_docs`` and CORPUS_SEED."""
    rng = np.random.default_rng(CORPUS_SEED)
    lengths = rng.integers(12, 80, size=n_docs)
    words = rng.integers(0, len(_VOCAB), size=int(lengths.sum()))
    vocab = np.array(_VOCAB, dtype=object)
    texts = []
    pos = 0
    for n in lengths:
        texts.append(" ".join(vocab[words[pos:pos + n]]))
        pos += n
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i % len(_LANGS)] for i in range(n_docs)],
    })


def write_documents(out_dir: str, n_docs: int) -> str:
    """Write ``documents.parquet`` (the layout ``synth_pages`` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    documents_frame(n_docs).to_parquet(path, index=False)
    return out_dir
