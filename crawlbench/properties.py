#!/usr/bin/env python3
"""Measure the input properties of a workload's generated inputs.

    python3 crawlbench/properties.py --seed 1

Prints one JSON line: for ``crawl`` the page count and size, distinct
words, the share of text blocks over 512 tokens, the hub host's share of
pages and of in-corpus links, and the pages reachable from the seeds within
the crawl's depth limit; for ``queries`` the table sizes and planted
duplicate pairs. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def crawl_properties(spark, seed: int) -> dict:
    from pyspark.sql import functions as F

    from crawlbench import gen, layers
    from crawlbench.workloads import CRAWL
    from louis_crawler_legacy_spark.functions.extract import extract_page_fields
    from louis_crawler_legacy_spark.plans.crawl import CrawlConfig

    n_pages = CRAWL["n_pages"]
    corpus = gen.crawl_corpus(spark, seed, n_pages).cache()
    text = F.regexp_replace(F.col("html"), "<[^>]+>", " ")
    st = corpus.select(
        F.length("html").alias("bytes"),
        F.size(F.split(F.trim(text), r"\s+")).alias("words"),
    ).agg(F.avg("bytes"), F.avg("words")).first()
    distinct = corpus.select(F.explode(F.split(F.regexp_extract_all(
        F.col("html"), F.lit(r"<p>(.*?)</p>"), F.lit(1)).cast("string"),
        r"[^a-z]+")).alias("w")).filter(F.length("w") > 0).distinct().count()
    sample = [(r.url, r.html) for r in corpus.sample(0.05, seed=seed).collect()]
    long_share = layers.long_block_share(sample)
    corpus.unpersist()

    skel = gen.crawl_corpus(spark, seed, n_pages, skeleton=True).collect()
    status = {r.url: r.status for r in skel}
    children = {r.url: extract_page_fields(r.html, r.url, None)["children"]
                for r in skel}
    in_corpus = [c for cs in children.values() for c in cs if c in status]
    depth = CrawlConfig().max_depth
    frontier, reached = set(gen.seed_urls(CRAWL["n_seeds"])), set()
    for _ in range(depth + 1):
        reached |= frontier
        frontier = {c for u in frontier if status.get(u, 999) < 400
                    for c in children.get(u, [])} - reached
    return {
        "pages": n_pages, "avg_html_bytes": round(st[0]),
        "avg_words": round(st[1]), "distinct_words": distinct,
        "long_block_share": round(long_share, 4),
        "hub_page_share": round(sum(u.startswith(f"http://{gen.HUB}/")
                                    for u in status) / n_pages, 4),
        "hub_link_share": round(sum(c.startswith(f"http://{gen.HUB}/")
                                    for c in in_corpus) / len(in_corpus), 4),
        "reachable_urls": len(reached),
        "reachable_pages": len([u for u in reached if u in status]),
    }


def query_properties(spark, seed: int) -> dict:
    from crawlbench import gen
    from crawlbench.workloads import QUERY_DATA

    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as d:
        gen.query_tables(spark, seed, d, **QUERY_DATA)
        dup = gen.planted_duplicates(spark, d)
    return dict(QUERY_DATA, duplicate_pairs=len(dup))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    from louis_crawler_legacy_spark.session import get_spark

    spark = get_spark(app_name="crawlbench-properties",
                      cpus=len(os.sched_getaffinity(0)),
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(json.dumps({"seed": args.seed,
                          "crawl": crawl_properties(spark, args.seed),
                          "queries": query_properties(spark, args.seed)}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
