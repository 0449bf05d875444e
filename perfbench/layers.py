"""Per-layer metrics of one traced crawl, from its spans, job census,
worker accumulators, manifest counters and state directory."""

from __future__ import annotations

import os

from perfbench import stats
from perfbench.tracer import job_census, self_time, subtree

# layer metric prefix -> span name (lineage cuts labelled by the tracer)
CUT_LAYERS = {
    "fetch_decode": "ckpt.fetch_decode",
    "parse": "ckpt.parse",
    "accept": "ckpt.accept",
    "carry": "ckpt.carry",
}
STATE_TABLES = ("fetch_log", "seen", "frontier")


def layer_metrics(spark, tracer, root: dict, manifest, state_dir: str) -> dict:
    """name -> (value, unit) for every per-layer metric of the crawl under
    ``root``."""
    from webcrawl_spark.operators.bloom import sidecar_dir

    spans = subtree(tracer.spans, root["id"])
    census = job_census(spark.sparkContext, [root] + spans)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def inclusive(s) -> tuple:
        jobs, tasks = census[s["id"]]
        for k in kids.get(s["id"], []):
            j, t = inclusive(k)
            jobs, tasks = jobs + j, tasks + t
        return jobs, tasks

    def named(name):
        return [s for s in spans if s["name"] == name]

    def ms(name) -> float:
        return sum(s["end"] - s["start"] for s in named(name)) * 1000.0

    acc = tracer.accumulated()
    rounds = named("round")
    n_rounds = max(len(rounds), 1)
    out = {}
    for layer, span_name in CUT_LAYERS.items():
        js = [inclusive(s) for s in named(span_name)]
        out[f"{layer}.ms"] = (ms(span_name), "ms")
        out[f"{layer}.jobs"] = (sum(j for j, _ in js), "count")
        if layer != "carry":
            out[f"{layer}.tasks"] = (sum(t for _, t in js), "count")
    for stage in ("decode", "parse"):
        out[f"udf.{stage}.worker_ms"] = (acc[stage]["ms"], "ms")
        out[f"udf.{stage}.tasks"] = (acc[stage]["tasks"], "count")
        out[f"udf.{stage}.rows"] = (acc[stage]["rows_in"], "count")

    candidates = acc["parse"]["rows_out"]
    new_links = sum(
        c[3]
        for k in range(1, manifest.next_round + 1)
        for c in stats.read_manifest(state_dir, k)["counters"]
        if c[2] == "new_links"
    )
    out["parse.rows_out"] = (candidates, "count")
    out["accept.rows_out"] = (new_links, "count")
    out["accept.yield"] = (new_links / candidates if candidates else 0.0, "ratio")

    checked = acc["bloom_check"]["rows_in"]
    out["bloom.check_rounds"] = (tracer.calls.get("stage.bloom_check", 0), "count")
    out["bloom.bypass_ratio"] = (
        acc["bloom_check"]["flagged"] / checked if checked else 0.0, "ratio")
    out["udf.bloom_check.worker_ms"] = (acc["bloom_check"]["ms"], "ms")
    out["bloom.build_ms"] = (ms("bloom.build"), "ms")
    live = sidecar_dir(state_dir, manifest.next_round)
    out["bloom.sidecar_bytes"] = (
        stats.dir_usage(live)[0] if os.path.isdir(live) else 0, "B")

    jobs, tasks = inclusive(root)
    py_tasks = sum(acc[s]["tasks"] for s in acc)
    out["crawl.jobs"] = (jobs, "count")
    out["crawl.jobs_per_round"] = (jobs / n_rounds, "count")
    out["crawl.tasks"] = (tasks, "count")
    out["crawl.py_tasks_per_round"] = (py_tasks / n_rounds, "count")
    # jobs started directly by the crawl or a round, outside any named layer
    out["crawl.jobs_unattributed"] = (
        census[root["id"]][0] + sum(census[r["id"]][0] for r in rounds), "count")
    out["ckpt.cuts"] = (sum(1 for s in spans if s["name"].startswith("ckpt.")), "count")

    out["round.ms"] = (ms("round"), "ms")
    out["round.self_ms"] = (
        sum(self_time(r, kids.get(r["id"], [])) for r in rounds) * 1000.0, "ms")
    out["commit.wait_ms"] = (
        sum(self_time(s, kids.get(s["id"], [])) for s in named("commit.wait")) * 1000.0,
        "ms")
    for t in STATE_TABLES:
        out[f"state.write_ms.{t}"] = (ms(f"state.write.{t}"), "ms")
    out["state.commit_ms"] = (ms("state.commit"), "ms")
    written = [stats.dir_usage(os.path.join(state_dir, t)) for t in STATE_TABLES]
    out["state.bytes_written"] = (sum(b for b, _ in written), "B")
    out["state.files_written"] = (sum(f for _, f in written), "count")
    out["state.read_ms"] = (ms("state.read"), "ms")
    out["crawl.construct_ms"] = (ms("crawl.construct"), "ms")
    out["crawl.seed_ms"] = (ms("crawl.seed"), "ms")
    out["seq.calls"] = (len(named("seq")), "count")
    out["seq.ms"] = (ms("seq"), "ms")
    return out
