"""Output checks. They run outside the timed region; every mismatch is a
failure that the result's ``failed`` count carries.

Crawl outputs are compared with ``simulator.simulate_crawl`` run on the
generated corpus's skeleton pages (same anchors, no text), queries with
their DuckDB oracle from ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal


def digest(items) -> str:
    h = hashlib.sha256()
    for x in sorted(items):
        h.update(repr(x).encode())
        h.update(b"\n")
    return h.hexdigest()


def expected_crawl(sim, n_rounds: int) -> dict:
    """What the engine's warehouse must hold after the first ``n_rounds``
    rounds of the simulated crawl."""
    rounds = sim.rounds[:n_rounds]
    scraped = [u for r in rounds for u in r.scraped]
    errored = [u for r in rounds for u in r.errored]
    links = {(u, c) for u in scraped for c in sim.pages[u]["children"]}
    return {
        "batch_sizes": [len(r.batch) for r in rounds],
        "new_frontier": [len(r.new_pending) for r in rounds],
        "seen": digest([(u, "scraped") for u in scraped]
                       + [(u, "errored") for u in errored]),
        "pages": len(scraped),
        "links": len(links),
        "documents": len(scraped),
    }


def crawl_mismatches(observed: dict, expected: dict) -> list[str]:
    """Keys of ``expected`` whose observed value differs (plus duplicate
    page URLs, which no crawl may write)."""
    bad = [f"{k}: engine {observed.get(k)!r} != simulator {v!r}"
           for k, v in expected.items() if observed.get(k) != v]
    if observed.get("distinct_page_urls") != observed.get("pages"):
        bad.append("pages: duplicate urls")
    return bad


def observe_crawl(engine, stats: list) -> dict:
    """Read the engine's round stats and warehouse tables for comparison
    with ``expected_crawl``."""
    from pyspark.sql import functions as F

    seen = engine.seen.read().select("url", "status").collect()
    pages = engine.pages.read().agg(
        F.count("*").alias("n"), F.countDistinct("url").alias("d")).first()
    return {
        "batch_sizes": [s.n_batch for s in stats],
        "new_frontier": [s.n_new_frontier for s in stats],
        "seen": digest([(r.url, r.status) for r in seen]),
        "seen_urls": [r.url for r in seen],
        "pages": int(pages["n"]),
        "distinct_page_urls": int(pages["d"]),
        "links": engine.links.read().count(),
        "documents": engine.documents.read().count(),
    }


# -- query results -------------------------------------------------------------

def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.9g}")
    if isinstance(v, Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    """Rows with columns in name order and values normalised, sorted: an
    order-insensitive comparison that tolerates last-digit float noise."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def query_mismatch(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} != {sorted(oracle_cols)}"
    a = canonical_rows(list(spark_cols), spark_rows)
    b = canonical_rows(list(oracle_cols), oracle_rows)
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)}"
    if a != b:
        diff = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"row {diff}: {a[diff]!r} != {b[diff]!r}"
    return None
