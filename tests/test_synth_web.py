"""The synthetic web's DuckDB oracles follow the web's host count, not just
the default 32 hosts: a small crawl over a 7-host web must match both the
full-trace oracle and the reachability oracle."""

import duckdb

from webcrawl_spark.plans.crawl import SparkCrawler
from webcrawl_spark.sources import synth_web as SW

SF = "/root/testdata/sf0.001"


def test_oracles_follow_host_count(spark, tmp_path):
    n_docs, n_hosts = 120, 7
    pages = SW.synth_pages(spark, SF, n_docs, n_hosts=n_hosts)
    c = SparkCrawler(
        spark, pages, SW.seed_urls(n_hosts=n_hosts), str(tmp_path / "state"),
        SW.crawl_config(num_partitions=4),
    )
    c.run()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")

    trace = [
        (r["round"], r["fetch_seq"], r["url"], r["depth"], r["link_type"])
        for r in c.trace().orderBy("fetch_seq").collect()
    ]
    assert trace == con.sql(SW.trace_sql(n_docs, n_hosts=n_hosts)).fetchall()

    seen = sorted((r["host"], r["url_key"]) for r in c.seen().collect())
    assert seen == con.sql(SW.reach_seen_sql(n_docs, n_hosts=n_hosts)).fetchall()
