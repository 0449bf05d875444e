"""Small measurement helpers: percentiles, manifest-interval round latency,
directory sizes and peak resident memory."""

from __future__ import annotations

import json
import os
import statistics

TAIL_LEVELS = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def quantile(samples, q: float) -> float:
    """Linear-interpolation quantile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int, beyond: int = 10):
    """Highest level in TAIL_LEVELS with at least ``beyond`` of ``n``
    samples above it, or None when even the median has fewer."""
    best = None
    for q in TAIL_LEVELS:
        if n * (1 - q) >= beyond - 1e-9:  # 100 * (1 - 0.9) < 10 in floats
            best = q
    return best


def summarize(samples) -> dict:
    """Median, the highest percentile with ten samples beyond it (or None),
    and the sample count."""
    xs = list(samples)
    q = tail_level(len(xs))
    return {
        "n": len(xs),
        "median": statistics.median(xs) if xs else None,
        "tail_level": q,
        "tail": quantile(xs, q) if q is not None else None,
    }


def manifest_times(state_dir: str) -> list:
    """(round, mtime) of every committed manifest, by round."""
    mdir = os.path.join(state_dir, "_manifests")
    out = []
    for name in os.listdir(mdir):
        if name.startswith("round-") and name.endswith(".json"):
            k = int(name[len("round-"):-len(".json")])
            out.append((k, os.stat(os.path.join(mdir, name)).st_mtime))
    return sorted(out)


def commit_intervals(times: list) -> list:
    """Seconds between successive manifest commits."""
    return [b[1] - a[1] for a, b in zip(times, times[1:])]


def read_manifest(state_dir: str, rnd: int) -> dict:
    with open(os.path.join(state_dir, "_manifests", f"round-{rnd}.json")) as f:
        return json.load(f)


def dir_usage(path: str) -> tuple:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.stat(os.path.join(root, n)).st_size
            except FileNotFoundError:
                continue
            files += 1
    return total, files


def peak_rss_mb(pid) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
