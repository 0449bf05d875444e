"""Direct kernel throughput on a fixed page sample of the workload.

Calls the same ``webcrawl_spark.kernels`` functions the Python stages call,
in the driver, outside Spark — the per-row cost without the crossing.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

MIN_SECONDS = 0.2
MIN_REPS = 3


def _rate(fn, amount: float) -> float:
    """Median of ``amount`` / seconds over repeated calls of ``fn``."""
    rates = []
    spent = 0.0
    while len(rates) < MIN_REPS or spent < MIN_SECONDS:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        spent += dt
        rates.append(amount / max(dt, 1e-9))
    return statistics.median(rates)


def kernel_rates(sample: pd.DataFrame, base_uris: list) -> dict:
    """``sample``: pages (url, html bytes). ``base_uris``: the crawl's
    canonical seed list ({scheme, host, path})."""
    from webcrawl_spark.kernels.links import extract_links_batch
    from webcrawl_spark.kernels.scope import scope_filter
    from webcrawl_spark.kernels.textdec import decode_batch
    from webcrawl_spark.kernels.urlnorm import canonicalize, resolve_links

    bodies = sample["html"].reset_index(drop=True)
    rtypes = pd.Series(["html"] * len(bodies))
    body_mb = sum(len(b) for b in bodies) / 1e6
    texts = decode_batch(bodies, None, rtypes)["text"]
    text_mb = sum(len(t.encode()) for t in texts) / 1e6
    found = extract_links_batch(texts, rtypes)
    hrefs = pd.Series([h for links in found for h, _lt, _d in links], dtype="object")
    bases = pd.Series(
        [u for u, links in zip(sample["url"], found) for _ in links], dtype="object"
    )
    resolved = resolve_links(hrefs, bases, True)
    canon = canonicalize(resolved)
    cand = pd.DataFrame({
        "scheme": canon["scheme"], "host": canon["host"], "path": canon["path"],
        "link_type": pd.Series(["link"] * len(canon), index=canon.index),
    })
    n = float(len(hrefs))
    return {
        "kernels.decode_batch.mb_per_s":
            _rate(lambda: decode_batch(bodies, None, rtypes), body_mb),
        "kernels.extract_links_batch.mb_per_s":
            _rate(lambda: extract_links_batch(texts, rtypes), text_mb),
        "kernels.resolve_links.urls_per_s":
            _rate(lambda: resolve_links(hrefs, bases, True), n),
        "kernels.canonicalize.urls_per_s": _rate(lambda: canonicalize(resolved), n),
        "kernels.scope_filter.urls_per_s": _rate(
            lambda: scope_filter(cand, base_uris, domain_nav="Everywhere",
                                 dir_nav="UpAndDown"), n),
    }
