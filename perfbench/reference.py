"""Engine-independent crawl reference, computed in DuckDB.

Over the synthetic web a crawl is a politeness-scheduled BFS with a total
order (uniform priority, no retries, redirects, robots or caps, every URL
present), so a fixed number of rounds unrolls into static per-round CTE
blocks. Unlike ``synth_web.trace_sql`` this reference takes the host count
and an explicit seed list, and also rebuilds every fetched page's text.

Digests are order-free over rows (lines are sorted before hashing), so they
do not depend on how either side partitions its output.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from .workloads import LINK_MULT, LINK_STEP, MEGA_MOD, Workload, seed_docs

MAX_LINKS = 6  # nlinks(d) = 2 + d % 4


@dataclass(frozen=True)
class Digest:
    fetched: int      # rows in the crawl trace
    seen: int         # keys in the final seen set
    trace: str        # sha256 over (round, fetch_seq, url, depth, link_type, md5(text))
    seen_keys: str    # sha256 over (host, url_key)


def digest_lines(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def trace_line(rnd, fetch_seq, url, depth, link_type, text_md5) -> str:
    return f"{rnd}\t{fetch_seq}\t{url}\t{depth}\t{link_type}\t{text_md5}"


def seen_line(host, url_key) -> str:
    return f"{host}\t{url_key}"


def _host(col: str, n_hosts: int) -> str:
    return f"(CASE WHEN ({col}) % {MEGA_MOD} = 0 THEN 0 ELSE ({col}) % {n_hosts} END)"


def _url(col: str, n_hosts: int) -> str:
    return (f"('http://site' || CAST({_host(col, n_hosts)} AS VARCHAR) || "
            f"'.test/doc' || CAST({col} AS VARCHAR) || '.html')")


def reference_sql(w: Workload, seeds: list) -> str:
    """Two result sets in one script: the trace (with each page's text md5)
    and the final seen set, as ``trace`` and ``seen`` views."""
    n, H = w.n_docs, w.n_hosts
    host = _host("id", H)
    seed_rows = ", ".join(f"({d}, {i})" for i, d in enumerate(seeds))

    def m(name, body):
        return f"{name} AS MATERIALIZED ({body})"

    parts = [
        m("edges",
          f"SELECT d.doc_id AS src, ks.k AS k, "
          f"((d.doc_id * {LINK_MULT} + {LINK_STEP} * ks.k + 1) % {n}) AS dst "
          f"FROM documents d CROSS JOIN "
          f"(SELECT unnest(range(0, {MAX_LINKS})) AS k) ks "
          f"WHERE ks.k < 2 + (d.doc_id % 4)"),
        m("f0", f"SELECT d AS id, 0 AS depth, CAST(s AS BIGINT) AS seq "
                f"FROM (VALUES {seed_rows}) v(d, s)"),
        m("seen0", "SELECT id FROM f0"),
    ]
    for r in range(w.rounds):
        parts += [
            m(f"pick{r}",
              f"SELECT id, depth, seq FROM (SELECT id, depth, seq, "
              f"row_number() OVER (PARTITION BY {host} ORDER BY seq) AS rn "
              f"FROM f{r}) WHERE rn <= {w.budget}"),
            m(f"disc{r}",
              f"SELECT e.dst AS id, p.depth + 1 AS depth, p.seq AS pseq, e.k AS k "
              f"FROM pick{r} p JOIN edges e ON e.src = p.id"),
            # first discovery per new key by (parent seq, link index) — a
            # round fetches in seq order, so this is the engine's (pos_f, pos_o)
            m(f"newseq{r}",
              f"SELECT id, depth, (SELECT count(*) FROM seen{r}) "
              f"+ row_number() OVER (ORDER BY posk) - 1 AS seq FROM ("
              f"SELECT d.id, min(d.depth) AS depth, "
              f"min(d.pseq * 1000000 + d.k) AS posk "
              f"FROM disc{r} d ANTI JOIN seen{r} s ON s.id = d.id GROUP BY d.id)"),
            m(f"f{r + 1}",
              f"SELECT c.id, least(c.depth, coalesce(mm.md, c.depth)) AS depth, "
              f"c.seq FROM (SELECT f.* FROM f{r} f ANTI JOIN pick{r} p "
              f"ON p.seq = f.seq) c LEFT JOIN (SELECT id, min(depth) AS md "
              f"FROM disc{r} GROUP BY id) mm ON mm.id = c.id "
              f"UNION ALL SELECT id, depth, seq FROM newseq{r}"),
            m(f"seen{r + 1}",
              f"SELECT id FROM seen{r} UNION ALL SELECT id FROM newseq{r}"),
        ]
    picks = " UNION ALL ".join(
        f"SELECT {r} AS round, id, depth, seq FROM pick{r}" for r in range(w.rounds)
    )
    links = (
        "SELECT src, string_agg('<a href=\"' || "
        f"{_url('dst', H)} || '\">t</a>', '' ORDER BY k) AS links "
        "FROM edges GROUP BY src"
    )
    rep = w.text_repeat
    body = "d.text" if rep <= 1 else f"repeat(d.text || ' ', {rep - 1}) || d.text"
    html = (f"'<html><head><title>doc' || CAST(t.id AS VARCHAR) || "
            f"'</title></head><body>' || l.links || '<p>' || {body} || "
            f"'</p></body></html>'")
    return f"""
CREATE OR REPLACE TEMP VIEW trace AS
WITH {",".join(parts)},
picks AS ({picks}),
links AS ({links}),
t AS (SELECT round, id, depth,
             row_number() OVER (ORDER BY round, seq) - 1 AS fetch_seq
      FROM picks)
SELECT t.round, t.fetch_seq, {_url('t.id', H)} AS url, t.depth,
       'link' AS link_type, md5({html}) AS text_md5
FROM t JOIN documents d ON d.doc_id = t.id JOIN links l ON l.src = t.id;
CREATE OR REPLACE TEMP VIEW seen AS
WITH {",".join(parts)}
SELECT 'site' || CAST({host} AS VARCHAR) || '.test' AS host,
       '/doc' || CAST(id AS VARCHAR) || '.html' AS url_key
FROM seen{w.rounds};
"""


def reference_digest(w: Workload, seed: int, documents_path: str) -> Digest:
    """Digest of the crawl ``w`` must produce from ``seed``'s seed set."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute(
            f"CREATE TEMP TABLE documents AS SELECT doc_id, text "
            f"FROM read_parquet('{documents_path}')"
        )
        con.execute(reference_sql(w, seed_docs(w, seed)))
        trace = con.execute(
            "SELECT round, fetch_seq, url, depth, link_type, text_md5 FROM trace"
        ).fetchall()
        seen = con.execute("SELECT host, url_key FROM seen").fetchall()
    finally:
        con.close()
    return Digest(
        fetched=len(trace),
        seen=len(seen),
        trace=digest_lines(trace_line(*r) for r in trace),
        seen_keys=digest_lines(seen_line(*r) for r in seen),
    )
