"""Crawl benchmark: one command per workload, end-to-end or traced.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 15 --trace 0

Run from the repository root. It starts one Spark session (``local[nproc]``),
builds the workload's synthetic web, computes the reference digest in
DuckDB (untimed), runs one untimed warm-up crawl, then crawls in a closed
loop — one crawl at a time — until ``--seconds`` have passed, checking every
timed crawl against the reference. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``). The line before it
is a JSON context record (controls, sample counts, percentiles). Everything
the run writes stays under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# The first reads after a crawl run slower while the JVM is still compiling
# the read path; they are read but not timed.
SETTLE_READS = 2
RESULT_READS = 8
KERNEL_SAMPLE = 200


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=os.cpu_count() or 1,
                   help="local[N] parallelism (default: all cores)")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ session
def driver_memory() -> str:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(512, min(1024, phys // 4 // (1 << 20)))}m"


def start_session(cores: int, work: str):
    """Box-fit session: ``local[cores]``, driver memory well under physical
    RAM, Spark scratch and JVM temp files inside ``work``."""
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM that spark-submit starts first, too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    mem = driver_memory()
    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", mem)
        # the whole heap is committed and touched at start, so the JVM's
        # resident size does not depend on when the collector grows it
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem} "
                "-XX:+AlwaysPreTouch")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run attributes jobs through statusTracker
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "50000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ------------------------------------------------------------------ set-up
def zip_engine(out: str) -> str:
    """Zip the engine package for ``addPyFile`` — what
    ``__spark_entry__._ensure_shipped`` does, without importing the query
    battery that module pulls in, and writing inside the work directory."""
    import webcrawl_spark

    pkg = os.path.dirname(os.path.abspath(webcrawl_spark.__file__))
    with zipfile.ZipFile(out, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.join(
                        "webcrawl_spark", os.path.relpath(full, pkg)))
    return out


def setup_once(spark, w, work: str, rep: int) -> tuple:
    """Ship the engine and build + materialise the workload's web.
    Returns (seconds, pages parquet path, documents path)."""
    from webcrawl_spark.sources.synth_web import synth_pages

    from perfbench.workloads import write_documents

    t0 = time.perf_counter()
    zpath = zip_engine(os.path.join(work, "webcrawl_spark.zip"))
    if rep == 0:
        spark.sparkContext.addPyFile(zpath)
    docs = write_documents(os.path.join(work, "docs"), w.n_docs)
    pages_path = os.path.join(work, "pages")
    synth_pages(spark, docs, w.n_docs, text_repeat=w.text_repeat,
                n_hosts=w.n_hosts).write.mode("overwrite").parquet(pages_path)
    return time.perf_counter() - t0, pages_path, os.path.join(docs, "documents.parquet")


# ------------------------------------------------------------------ crawling
def crawl(spark, w, pages, seeds: list, state: str):
    """One crawl: construct, run (stopping and resuming on a fresh crawler
    when the workload asks), commits drained. Returns (crawler, manifest,
    wall time of the last construction, round it started from)."""
    from webcrawl_spark.plans.crawl import SparkCrawler

    cfg = w.config()
    t_construct, from_round = time.time(), 0
    c = SparkCrawler(spark, pages, seeds, state, cfg)
    if w.resume_after:
        m = c.run(max_rounds=w.resume_after)
        t_construct, from_round = time.time(), m.next_round
        c = SparkCrawler(spark, pages, seeds, state, cfg)
    m = c.run()
    return c, m, t_construct, from_round


def trace_digest(fetched) -> tuple:
    """Digest a crawl's ``fetched()`` frame with an md5 of every
    ``extracted_text`` (the timed result read). Returns (digest, rows)."""
    from pyspark.sql import functions as F

    from perfbench.reference import digest_lines, trace_line

    rows = fetched.select(
        "round", "fetch_seq", "url", "depth", "link_type",
        F.md5("extracted_text").alias("m"),
    ).collect()
    return digest_lines(trace_line(*r) for r in rows), len(rows)


def seen_digest(seen) -> tuple:
    """Digest a crawl's ``seen()`` frame. Returns (digest, keys)."""
    from perfbench.reference import digest_lines, seen_line

    rows = seen.select("host", "url_key").collect()
    return digest_lines(seen_line(*r) for r in rows), len(rows)


def timed_crawl(spark, w, pages, seeds, state: str, ref) -> dict:
    from perfbench import stats

    shutil.rmtree(state, ignore_errors=True)
    t0 = time.perf_counter()
    c, m, t_construct, from_round = crawl(spark, w, pages, seeds, state)
    crawl_s = time.perf_counter() - t0
    times = stats.manifest_times(state)
    first = [t for k, t in times if k > from_round]
    for _ in range(SETTLE_READS):
        trace_digest(c.fetched())
    reads = []
    for _ in range(RESULT_READS):
        t1 = time.perf_counter()
        trace_d, n_fetched = trace_digest(c.fetched())
        reads.append(time.perf_counter() - t1)
    seen_d, n_seen = seen_digest(c.seen())
    state_bytes, _ = stats.dir_usage(state)
    problems = []
    if m.next_round != w.rounds:
        problems.append(f"ran {m.next_round} rounds, expected {w.rounds}")
    if (n_fetched, trace_d) != (ref.fetched, ref.trace):
        problems.append(f"trace differs ({n_fetched} rows vs {ref.fetched})")
    if (n_seen, seen_d) != (ref.seen, ref.seen_keys):
        problems.append(f"seen set differs ({n_seen} keys vs {ref.seen})")
    return {
        "crawl_s": crawl_s,
        "urls": m.next_fetch_seq + m.next_seq,
        "fetched": n_fetched,
        "intervals": stats.commit_intervals(times),
        "recover_s": first[0] - t_construct,
        "result_read_s": statistics.median(reads),
        "state_bytes": state_bytes,
        "problems": problems,
    }


def run_timed(spark, w, pages, seeds, state, ref, seconds: float) -> list:
    """Closed loop: crawl after crawl until ``seconds`` have passed. A crawl
    that raises or fails its reference check is kept with its problems."""
    results = []
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 < seconds:
        try:
            r = timed_crawl(spark, w, pages, seeds, state, ref)
        except Exception:
            log("timed crawl raised:\n" + traceback.format_exc())
            r = {"problems": ["raised"]}
        if r["problems"]:
            log("timed crawl failed: " + "; ".join(r["problems"]))
        results.append(r)
        if sum(1 for x in results if x["problems"]) >= 2:
            break
    return results


# ------------------------------------------------------------------ metrics
def e2e_metrics(ok: list, setup_s: float, rss_mb: float) -> dict:
    """End-to-end metrics over the crawls that passed their check."""
    from perfbench.stats import quantile

    intervals = [x for r in ok for x in r["intervals"]]
    med = statistics.median
    return {
        "setup_s": (setup_s, "s"),
        "crawl_s": (med(r["crawl_s"] for r in ok), "s"),
        "frontier_urls_per_s": (med(r["urls"] / r["crawl_s"] for r in ok), "1/s"),
        "round_s_p50": (quantile(intervals, 0.5), "s"),
        "round_s_p90": (quantile(intervals, 0.9), "s"),
        "recover_s": (med(r["recover_s"] for r in ok), "s"),
        "state_bytes_per_url": (med(r["state_bytes"] / r["fetched"] for r in ok), "B"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def summaries(ok: list) -> dict:
    """Median, tail percentile and sample count of each timing."""
    from perfbench.stats import summarize

    return {
        "crawl_s": summarize(r["crawl_s"] for r in ok),
        "round_s": summarize(x for r in ok for x in r["intervals"]),
        "recover_s": summarize(r["recover_s"] for r in ok),
        "result_read_s": summarize(r["result_read_s"] for r in ok),
    }


def traced_crawl(spark, w, pages, seeds, state, ref, tag: str) -> tuple:
    """One crawl under the tracer; its spans go to
    ``.perfbench_work/spans/<tag>.jsonl``. Returns (per-layer metrics,
    traced crawl seconds, whether it matched the reference)."""
    from perfbench.layers import layer_metrics
    from perfbench.tracer import Tracer

    shutil.rmtree(state, ignore_errors=True)
    tracer = Tracer(spark)
    with tracer:
        with tracer.span("crawl") as root:
            c, m, _, _ = crawl(spark, w, pages, seeds, state)
    crawl_s = root["end"] - root["start"]
    trace_d, n_fetched = trace_digest(c.fetched())
    seen_d, n_seen = seen_digest(c.seen())
    ok = (n_fetched, trace_d, n_seen, seen_d) == (ref.fetched, ref.trace, ref.seen, ref.seen_keys)
    spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    tracer.write(os.path.join(spans_dir, f"{tag}.jsonl"))
    return layer_metrics(spark, tracer, root, m, state), crawl_s, ok


def kernel_sample(spark, w, pages, seeds):
    from pyspark.sql import functions as F
    from webcrawl_spark.kernels.urlnorm import canonicalize

    import pandas as pd

    from perfbench.workloads import url_of

    urls = [url_of(d, w.n_hosts) for d in range(min(KERNEL_SAMPLE, w.n_docs))]
    sample = (
        pages.filter(F.col("url").isin(urls)).select("url", "html")
        .orderBy("url").toPandas()
    )
    sample["html"] = sample["html"].map(bytes)
    c = canonicalize(pd.Series(seeds, dtype="object"))
    base_uris = [{"scheme": r.scheme, "host": r.host, "path": r.path}
                 for r in c.itertuples()]
    return sample, base_uris


# ------------------------------------------------------------------ main
def run(args, work: str) -> int:
    from perfbench import controls, stats
    from perfbench.reference import reference_digest
    from perfbench.workloads import WORKLOADS, seed_urls

    w = WORKLOADS[args.workload]
    spark, session_s = start_session(args.cores, work)
    try:
        reps = []
        for i in range(SETUP_REPS):
            dt, pages_path, docs_path = setup_once(spark, w, work, i)
            reps.append(dt)
        setup_s = session_s + statistics.median(reps)
        pages = spark.read.parquet(pages_path)
        seeds = seed_urls(w, args.seed)
        ref = reference_digest(w, args.seed, docs_path)
        state = os.path.join(work, "state")

        # untimed warm-up crawl from another seed set
        t0 = time.perf_counter()
        warm = w.warmup()
        crawl(spark, warm, pages, seed_urls(warm, args.seed + 1_000_003), state)
        warmup_s = time.perf_counter() - t0
        shutil.rmtree(state, ignore_errors=True)

        ctl_before = controls.controls(spark)
        results = run_timed(spark, w, pages, seeds, state, ref, args.seconds)
        ok = [r for r in results if not r["problems"]]
        attempted, failed = len(results), len(results) - len(ok)
        context = {
            "workload": w.name, "seed": args.seed, "cores": args.cores,
            "session_s": session_s, "setup_reps_s": reps, "warmup_s": warmup_s,
            "reference": {"fetched": ref.fetched, "seen": ref.seen},
            "crawls": [{k: v for k, v in r.items() if k != "intervals"} for r in results],
            "timings": summaries(ok),
        }
        if args.trace:
            # bracket the traced crawl with two untraced ones, none of them
            # the process's first timed crawl, so that a JIT still warming up
            # does not pass for tracing overhead (or its absence)
            before = run_timed(spark, w, pages, seeds, state, ref, 0)
            tag = f"{w.name}-seed{args.seed}"
            layers, traced_s, traced_ok = traced_crawl(
                spark, w, pages, seeds, state, ref, tag)
            after = run_timed(spark, w, pages, seeds, state, ref, 0)
            attempted += 1 + len(before) + len(after)
            failed += (not traced_ok) + sum(1 for r in before + after if r["problems"])
            if not traced_ok:
                log("traced crawl failed its reference check")
            untraced = [r["crawl_s"] for r in before + after if not r["problems"]]
            base = statistics.mean(untraced) if untraced else traced_s
            layers["trace.overhead_frac"] = ((traced_s - base) / base, "ratio")
            context["traced_crawl_s"] = traced_s
            context["untraced_crawl_s"] = untraced
            sample, base_uris = kernel_sample(spark, w, pages, seeds)
            from perfbench.kernelrates import kernel_rates

            for k, v in kernel_rates(sample, base_uris).items():
                layers[k] = (v, "MB/s" if k.endswith("mb_per_s") else "1/s")
            metrics = layers
        else:
            rss = stats.peak_rss_mb(os.getpid()) + stats.peak_rss_mb(jvm_pid(spark))
            metrics = e2e_metrics(ok, setup_s, rss) if ok else {}
        context["controls"] = {"before": ctl_before,
                               "after": controls.controls(spark)}
    finally:
        stop_session(spark)
    print(json.dumps(context, default=str))
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if metrics else 1


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import webcrawl_spark  # noqa: F401
    except ImportError as e:
        log(f"the engine package is not importable from {ROOT}: {e}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
