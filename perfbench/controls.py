"""Machine-state controls, recorded before and after each workload as
ungated context. They run no engine code, so a shift in them between two
records is the box, not the change: an Arrow ``mapInPandas`` stage, a
shuffle stage, and the latency of a trivial job (the crawl pays about
twenty of those per round). Same three as ``bench.py``, sized down."""

from __future__ import annotations

import statistics
import time


def arrow_stage_s(spark) -> float:
    import re

    import pandas as pd

    rx = re.compile(r'<a\s[^>]*?href\s*=\s*"([^"]+)"', re.I | re.S)

    def stage(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [sum(len(rx.findall(t)) for t in pdf["text"])]})

    df = spark.range(0, 4_000, 1, 4).selectExpr(
        "repeat('<a href=\"http://h.test/p.html\">t</a> ', 20) AS text")
    t0 = time.perf_counter()
    df.mapInPandas(stage, "n long").groupBy().sum("n").collect()
    return time.perf_counter() - t0


def shuffle_stage_s(spark) -> float:
    t0 = time.perf_counter()
    spark.range(100_000).repartition(8).groupBy().sum("id").collect()
    return time.perf_counter() - t0


def trivial_job_ms(spark, reps: int = 3) -> float:
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(100).selectExpr("count(*)").collect()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples) * 1000.0


def controls(spark) -> dict:
    return {
        "arrow_stage_s": round(arrow_stage_s(spark), 4),
        "shuffle_stage_s": round(shuffle_stage_s(spark), 4),
        "trivial_job_ms": round(trivial_job_ms(spark), 2),
    }
