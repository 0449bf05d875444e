"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark tests share one ``local[2]`` session; the end-to-end test crawls a
300-page web and checks the engine against the DuckDB reference, traced.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import layers, reference, stats, tracer
from perfbench.workloads import WORKLOADS, seed_urls, write_documents

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- pure helpers
def test_quantile_interpolates():
    assert stats.quantile([3, 1, 2], 0.5) == 2
    assert stats.quantile([0, 10], 0.9) == pytest.approx(9.0)
    assert stats.quantile([5], 0.99) == 5
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_tail_level_needs_ten_samples_beyond():
    assert stats.tail_level(10) is None
    assert stats.tail_level(19) is None
    assert stats.tail_level(20) == 0.5
    assert stats.tail_level(40) == 0.75
    assert stats.tail_level(100) == 0.9
    assert stats.tail_level(1000) == 0.99


def test_summarize_reports_count_median_and_tail():
    s = stats.summarize(range(1, 101))
    assert s["n"] == 100 and s["median"] == 50.5
    assert s["tail_level"] == 0.9
    assert s["tail"] == pytest.approx(stats.quantile(range(1, 101), 0.9))
    short = stats.summarize([4.0, 2.0])
    assert short == {"n": 2, "median": 3.0, "tail_level": None, "tail": None}


def test_round_latency_is_manifest_commit_intervals(tmp_path):
    mdir = tmp_path / "_manifests"
    mdir.mkdir()
    # written out of order, plus files that are not round manifests
    for k, t in [(2, 1003.5), (0, 1000.0), (1, 1001.25), (3, 1010.0)]:
        p = mdir / f"round-{k}.json"
        p.write_text("{}")
        os.utime(p, (t, t))
    (mdir / "round-4.json.tmp").write_text("{}")
    (mdir / "compact-seen.json").write_text("{}")
    times = stats.manifest_times(str(tmp_path))
    assert [k for k, _ in times] == [0, 1, 2, 3]
    assert stats.commit_intervals(times) == pytest.approx([1.25, 2.25, 6.5])


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [
        {"start": 1.0, "end": 3.0},
        {"start": 2.0, "end": 4.0},    # overlaps the first
        {"start": 8.0, "end": 12.0},   # runs past the parent's end
        {"start": 5.0, "end": 5.0},
    ]
    assert tracer.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 2.0)
    assert tracer.self_time(parent, []) == 10.0


def test_digest_lines_ignores_row_order():
    rows = [reference.trace_line(0, i, f"u{i}", 0, "link", "m") for i in range(5)]
    assert reference.digest_lines(rows) == reference.digest_lines(rows[::-1])
    assert reference.digest_lines(rows) != reference.digest_lines(rows[:-1])


def test_kernel_rates_reports_every_kernel():
    from perfbench.kernelrates import kernel_rates

    html = ('<html><body><a href="/a.html">a</a> <a href="http://h.test/b.html">b</a>'
            '<p>text</p></body></html>').encode()
    sample = pd.DataFrame({"url": ["http://h.test/x.html"] * 20, "html": [html] * 20})
    rates = kernel_rates(sample, [{"scheme": "http", "host": "h.test", "path": "/"}])
    assert set(rates) == {
        "kernels.decode_batch.mb_per_s", "kernels.extract_links_batch.mb_per_s",
        "kernels.resolve_links.urls_per_s", "kernels.canonicalize.urls_per_s",
        "kernels.scope_filter.urls_per_s",
    }
    assert all(v > 0 for v in rates.values())


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark it exits non-zero, quickly,
    and prints no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_deep",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ---------------------------------------------------------------- with Spark
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    work = str(tmp_path_factory.mktemp("perfbench-work"))
    s, _ = run.start_session(2, work)
    s.sparkContext.addPyFile(run.zip_engine(os.path.join(work, "engine.zip")))
    yield s
    run.stop_session(s)


def test_trace_digest_invariant_to_partitioning(spark):
    from perfbench.run import trace_digest

    rows = [(r, i, f"http://h.test/doc{i}.html", r, "link", f"text {i} " * (i + 1))
            for r in range(3) for i in range(r * 10, r * 10 + 10)]
    df = spark.createDataFrame(
        rows, "round int, fetch_seq long, url string, depth int, "
              "link_type string, extracted_text string")
    one = trace_digest(df.repartition(1))
    many = trace_digest(df.repartition(7, "url"))
    expect = reference.digest_lines(
        reference.trace_line(r, i, u, d, lt, hashlib.md5(t.encode()).hexdigest())
        for r, i, u, d, lt, t in rows)
    assert one == many == (expect, len(rows))


def _patch_targets():
    import importlib

    mod = importlib.import_module
    crawl = mod("webcrawl_spark.plans.crawl")
    rnd = mod("webcrawl_spark.plans.round")
    state = mod("webcrawl_spark.plans.state")
    ckpt = mod("webcrawl_spark.operators.ckpt")
    bloom = mod("webcrawl_spark.operators.bloom")
    redirect = mod("webcrawl_spark.operators.redirect")
    C, S = crawl.SparkCrawler, state.CrawlState
    return {
        "crawl.__init__": C.__dict__["__init__"],
        "crawl._init_seeds": C.__dict__["_init_seeds"],
        "crawl._drain": C.__dict__["_drain"],
        "crawl.run_round": crawl.run_round,
        "ckpt.cut": ckpt.cut, "round.cut": rnd.cut,
        "round.assign_global_seq": rnd.assign_global_seq,
        "round.make_decode_stage": rnd.make_decode_stage,
        "round.make_parse_candidate_stage": rnd.make_parse_candidate_stage,
        "bloom.make_check_stage": bloom.make_check_stage,
        "bloom.make_update_fn": bloom.make_update_fn,
        "bloom.build_sidecar": bloom.build_sidecar,
        "redirect.effective_pages": redirect.effective_pages,
        **{f"state.{m}": S.__dict__[m]
           for m in ("write_table", "commit") + tracer.READ_METHODS},
    }


def test_tracer_restores_every_wrapper(spark):
    before = _patch_targets()
    t = tracer.Tracer(spark).install()
    during = _patch_targets()
    assert all(during[k] is not before[k] for k in before)
    t.uninstall()
    assert all(_patch_targets()[k] is before[k] for k in before)
    with pytest.raises(RuntimeError):
        with tracer.Tracer(spark):
            raise RuntimeError("boom")
    assert all(_patch_targets()[k] is before[k] for k in before)


def test_small_crawl_matches_reference_traced_and_untraced(spark, tmp_path):
    """A 300-page web with a resume and the Bloom check forced on: both the
    untraced and the traced crawl match the DuckDB reference, and the traced
    run yields every per-layer metric BENCHMARK.json names."""
    from perfbench.run import crawl, seen_digest, trace_digest

    w = dataclasses.replace(
        WORKLOADS["crawl_deep"], n_docs=300, n_hosts=8, budget=2, rounds=4,
        n_seeds=5, num_partitions=2, bloom_min_seen=0, resume_after=2)
    docs = write_documents(str(tmp_path / "docs"), w.n_docs)
    from webcrawl_spark.sources.synth_web import synth_pages

    pages = synth_pages(spark, docs, w.n_docs, n_hosts=w.n_hosts).localCheckpoint()
    ref = reference.reference_digest(w, 7, os.path.join(docs, "documents.parquet"))
    seeds = seed_urls(w, 7)
    state = str(tmp_path / "state")

    c, m, _, _ = crawl(spark, w, pages, seeds, state)
    assert m.next_round == w.rounds
    assert trace_digest(c.fetched()) == (ref.trace, ref.fetched)
    assert seen_digest(c.seen()) == (ref.seen_keys, ref.seen)

    shutil.rmtree(state)
    t = tracer.Tracer(spark)
    with t:
        with t.span("crawl") as root:
            c, m, _, _ = crawl(spark, w, pages, seeds, state)
    assert trace_digest(c.fetched()) == (ref.trace, ref.fetched)
    got = layers.layer_metrics(spark, t, root, m, state)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        named = {x["name"] for x in json.load(f)["per_layer"]}
    added_by_run = {n for n in named if n.startswith("kernels.")} | {"trace.overhead_frac"}
    assert set(got) == named - added_by_run
    value = {k: v for k, (v, _unit) in got.items()}
    assert value["bloom.check_rounds"] == w.rounds
    assert value["crawl.jobs"] > 0 and value["crawl.jobs_unattributed"] >= 0
    assert value["udf.decode.rows"] == ref.fetched
    assert value["ckpt.cuts"] >= 3 * w.rounds
