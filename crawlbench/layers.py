"""Per-layer measurements a traced run takes outside the timed steps:
direct warm calls of the per-page Python functions on a seed-chosen sample
of the workload's own pages, isolated forced calls of the seen filter on
the crawl's final state, and a walk of the warehouse directory."""

from __future__ import annotations

import os
import re
import statistics
import time

_TAG_RE = re.compile(r"<[^>]+>")


def per_page(pages: list[tuple[str, str]], n_warm: int) -> dict:
    """Time extract / tokenizer / chunking / spans per page.

    ``pages`` are (url, html); the first ``n_warm`` only warm the code and
    the tokenizer memo. ``tokenizer.new_piece_ratio`` is the share of the
    measured pages' pieces that no earlier page (warm-up included) had: the
    memo miss share the corpus imposes on a warm worker."""
    from louis_crawler_legacy_spark.functions.extract import extract_page_fields
    from louis_crawler_legacy_spark.functions.tokenizer import (
        _PIECE_RE,
        default_encoder,
    )
    from louis_crawler_legacy_spark.operators.chunking import chunk_html
    from louis_crawler_legacy_spark.operators.spans import build_spans_py

    enc = default_encoder()
    seen_pieces: set[str] = set()
    t = {"extract": [], "tokenizer": [], "chunking": [], "spans": []}
    n_chunks, n_pieces, n_new = [], 0, 0
    for i, (url, html) in enumerate(pages):
        measured = i >= n_warm
        t0 = time.perf_counter()
        content = extract_page_fields(html, url, None)["content"]
        t1 = time.perf_counter()
        text = _TAG_RE.sub(" ", content)
        pieces = _PIECE_RE.findall(text)
        if measured:
            n_pieces += len(pieces)
            n_new += sum(1 for p in pieces if p not in seen_pieces)
        seen_pieces.update(pieces)
        t2 = time.perf_counter()
        enc.encode(text)
        t3 = time.perf_counter()
        chunks = chunk_html(content, enc) if content else []
        t4 = time.perf_counter()
        build_spans_py(html, url, enc)
        t5 = time.perf_counter()
        if measured:
            t["extract"].append(t1 - t0)
            t["tokenizer"].append(t3 - t2)
            t["chunking"].append(t4 - t3)
            t["spans"].append(t5 - t4)
            n_chunks.append(len(chunks))
    out = {f"{k}.ms_per_page": 1000 * statistics.fmean(v) for k, v in t.items()}
    out["tokenizer.new_piece_ratio"] = n_new / max(1, n_pieces)
    out["chunking.chunks_per_page"] = statistics.fmean(n_chunks)
    return out


def long_block_share(pages: list[tuple[str, str]]) -> float:
    """Share of text blocks over 512 tokens (input property)."""
    from louis_crawler_legacy_spark.functions.tokenizer import default_encoder

    enc = default_encoder()
    blocks = [b for _, html in pages
              for b in re.findall(r"<p>(.*?)</p>", html, re.S)]
    return sum(1 for b in blocks if len(enc.encode(b)) > 512) / max(1, len(blocks))


def filter_layer(spark, engine, in_seen: list[str], not_seen: list[str]) -> dict:
    """Seen-filter stats on the final filter table, the false-positive share
    of ``probe`` on a half-seen URL set, and isolated forced probe/merge
    calls on the crawl's final state."""
    from pyspark.sql import functions as F

    from louis_crawler_legacy_spark.operators import bloom

    blooms = engine.blooms.read().cache()
    st = bloom.filter_stats(blooms).agg(
        F.max("fill").alias("fill"), F.max("n_layers").alias("layers")
    ).first()
    cand = spark.createDataFrame(
        [(u, True) for u in in_seen] + [(u, False) for u in not_seen],
        ["url", "in_seen"],
    )
    hashed = bloom.with_bloom_hashes(cand, "url", engine.config.num_partitions)
    t0 = time.perf_counter()
    probed = engine.pb.probe(hashed, blooms).select(
        "in_seen", "maybe_seen").collect()
    probe_s = time.perf_counter() - t0
    fp = sum(1 for r in probed if r.maybe_seen and not r.in_seen)
    missed = sum(1 for r in probed if r.in_seen and not r.maybe_seen)
    new_h = hashed.filter(~F.col("in_seen")).select("part_id", "h1", "h2")
    t0 = time.perf_counter()
    engine.pb.merge_blobs(blooms, new_h).write.format("noop").mode(
        "overwrite").save()
    merge_s = time.perf_counter() - t0
    blooms.unpersist()
    return {
        "filter.fill": float(st["fill"] or 0.0),
        "filter.layers": int(st["layers"] or 0),
        "filter.fp_ratio": fp / max(1, len(not_seen)),
        "filter.probe_s": probe_s,
        "filter.merge_s": merge_s,
        "_filter_false_negatives": missed,
    }


def warehouse_size(root: str) -> tuple[int, int]:
    """(bytes, files) of every file under ``root``."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files
