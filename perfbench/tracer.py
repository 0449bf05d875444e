"""Traced run: spans around calls into each engine layer, set from outside.

:class:`Tracer` replaces layer entry points (module attributes and class
methods) with wrappers and puts every original back in :meth:`uninstall`;
the engine's files are never edited. Each span runs under its own Spark
job group, so ``statusTracker`` attributes jobs and tasks to it, and its
parent is the span whose job group the calling thread carries — background
writer threads inherit their creator's group, so their spans nest under
the round that started them. The Python stages are wrapped so that each
worker task reports its busy time, one task and its rows through
accumulators. Spans are kept in memory and written once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time

# main-thread lineage cuts of one round, in call order
CUT_LABELS = ("fetch_decode", "parse", "accept")
READ_METHODS = (
    "read_frontier", "read_seen", "read_fetch_log", "read_table", "read_pq",
    "latest_manifest",
)
STAGES = ("decode", "parse", "bloom_check", "bloom_update")
_GROUP = "spark.jobGroup.id"


def counting_stage(stage, acc: dict, flag_col=None):
    """Wrap a ``mapInPandas`` function: the task adds its busy time (pulling
    input batches included), one task, and its row counts to the
    accumulators in ``acc``; with ``flag_col`` it also counts output rows
    where that column is false. References nothing outside its arguments,
    so it pickles by value."""

    def wrapped(batches):
        import time as _t

        n_in = [0]

        def counted():
            for b in batches:
                n_in[0] += len(b)
                yield b

        out = stage(counted())
        busy = 0.0
        n_out = n_flag = 0
        while True:
            t0 = _t.perf_counter()
            try:
                pdf = next(out)
            except StopIteration:
                busy += _t.perf_counter() - t0
                break
            busy += _t.perf_counter() - t0
            n_out += len(pdf)
            if flag_col is not None:
                n_flag += int((~pdf[flag_col].astype(bool)).sum())
            yield pdf
        acc["ms"].add(busy * 1000.0)
        acc["tasks"].add(1)
        acc["rows_in"].add(n_in[0])
        acc["rows_out"].add(n_out)
        acc["flagged"].add(n_flag)

    return wrapped


def counting_group_fn(fn, acc: dict):
    """Wrap an ``applyInPandas`` function (one call per group); a task is
    counted on its first group."""
    last = [None]

    def wrapped(pdf):
        import time as _t

        from pyspark import TaskContext

        tc = TaskContext.get()
        tid = tc.taskAttemptId() if tc is not None else None
        if tid != last[0]:
            last[0] = tid
            acc["tasks"].add(1)
        t0 = _t.perf_counter()
        out = fn(pdf)
        acc["ms"].add((_t.perf_counter() - t0) * 1000.0)
        acc["rows_in"].add(len(pdf))
        acc["rows_out"].add(len(out))
        return out

    return wrapped


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.calls: dict = {}
        self._lock = threading.Lock()
        self._next = 0
        self._by_group: dict = {}
        self._patches: list = []
        self.acc = {
            s: {k: self.sc.accumulator(0.0)
                for k in ("ms", "tasks", "rows_in", "rows_out", "flagged")}
            for s in STAGES
        }

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        """Run the body as span ``name`` under its own job group; yields the
        span record (``start``/``end`` are set when the body exits)."""
        prev = self.sc.getLocalProperty(_GROUP)
        with self._lock:
            sid = self._next
            self._next += 1
            parent = self._by_group.get(prev)
            rec = {
                "id": sid, "name": name,
                "parent": parent["id"] if parent is not None else None,
                "group": f"perfbench-span-{sid}",
                "thread": threading.get_ident(),
                "start": time.perf_counter(), "end": None, "cuts": 0,
            }
            self._by_group[rec["group"]] = rec
        self.sc.setLocalProperty(_GROUP, rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    def _count(self, key: str) -> None:
        with self._lock:
            self.calls[key] = self.calls.get(key, 0) + 1

    # ------------------------------------------------------------ patching
    def _patch(self, owner, attr: str, make) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _spanned(self, name):
        """Wrapper factory: run the call inside a span; ``name`` is a string
        or a function of the call's arguments."""

        def make(orig):
            def w(*a, **k):
                with self.span(name(*a, **k) if callable(name) else name):
                    return orig(*a, **k)

            return w

        return make

    def _cut(self, orig):
        def w(*a, **k):
            prev = self.sc.getLocalProperty(_GROUP)
            parent = self._by_group.get(prev)
            label = "other"
            if parent is not None and parent["name"] == "round":
                if parent["thread"] == threading.get_ident():
                    i = parent["cuts"]
                    parent["cuts"] += 1
                    label = CUT_LABELS[i] if i < len(CUT_LABELS) else f"cut{i}"
                else:
                    label = "carry"
            with self.span(f"ckpt.{label}"):
                return orig(*a, **k)

        return w

    def _stage(self, label, wrap=counting_stage, **kw):
        """Wrapper factory for a stage factory: count the call and wrap the
        stage function it returns with ``wrap``."""
        acc = self.acc[label]

        def make(orig):
            def w(*a, **k):
                self._count(f"stage.{label}")
                return wrap(orig(*a, **k), acc, **kw)

            return w

        return make

    def install(self) -> "Tracer":
        mod = importlib.import_module
        crawl = mod("webcrawl_spark.plans.crawl")
        rnd = mod("webcrawl_spark.plans.round")
        state = mod("webcrawl_spark.plans.state")
        ckpt = mod("webcrawl_spark.operators.ckpt")
        bloom = mod("webcrawl_spark.operators.bloom")
        redirect = mod("webcrawl_spark.operators.redirect")
        C, S = crawl.SparkCrawler, state.CrawlState
        try:
            self._patch(C, "__init__", self._spanned("crawl.construct"))
            self._patch(C, "_init_seeds", self._spanned("crawl.seed"))
            self._patch(C, "_drain", self._spanned("commit.wait"))
            self._patch(crawl, "run_round", self._spanned("round"))
            self._patch(ckpt, "cut", self._cut)
            self._patch(rnd, "cut", self._cut)
            self._patch(rnd, "assign_global_seq", self._spanned("seq"))
            self._patch(rnd, "make_decode_stage", self._stage("decode"))
            self._patch(rnd, "make_parse_candidate_stage", self._stage("parse"))
            self._patch(bloom, "make_check_stage",
                        self._stage("bloom_check", flag_col="maybe_seen"))
            self._patch(bloom, "make_update_fn", self._stage("bloom_update", counting_group_fn))
            self._patch(bloom, "build_sidecar", self._spanned("bloom.build"))
            self._patch(redirect, "effective_pages", self._spanned("redirect"))
            self._patch(S, "write_table",
                        self._spanned(lambda _s, table, *a, **k: f"state.write.{table}"))
            self._patch(S, "commit", self._spanned("state.commit"))
            for m in READ_METHODS:
                self._patch(S, m, self._spanned("state.read"))
        except BaseException:
            self.uninstall()
            raise
        return self

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def __enter__(self):
        return self.install()

    def __exit__(self, *exc):
        self.uninstall()
        return False

    # ------------------------------------------------------------ results
    def accumulated(self) -> dict:
        return {s: {k: a.value for k, a in accs.items()} for s, accs in self.acc.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps({k: rec[k] for k in (
                    "id", "name", "parent", "start", "end", "thread")}) + "\n")


def subtree(spans: list, root_id: int) -> list:
    """Spans under ``root_id`` (excluded), in any order."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


def self_time(span: dict, children: list) -> float:
    """Span duration minus the part of it its children cover (seconds)."""
    iv = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def job_census(sc, spans: list) -> dict:
    """span id -> (jobs, tasks) of the jobs run under that span's own group.
    A stage listed by several jobs (a reused shuffle) counts once."""
    st = sc.statusTracker()
    counted: set = set()
    out = {}
    for s in sorted(spans, key=lambda r: r["start"]):
        jobs = st.getJobIdsForGroup(s["group"])
        tasks = 0
        for j in sorted(jobs):
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info is not None else ()):
                if sid in counted:
                    continue
                counted.add(sid)
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
        out[s["id"]] = (len(jobs), tasks)
    return out
