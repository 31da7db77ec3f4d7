"""Seeded input generators, built JVM-side from ``spark.range``.

Every value is a pure expression of (seed, row id), so the same seed gives
the same inputs on any partitioning, and the driver never holds page rows.

``crawl_corpus`` models a web the crawl engine replays
(``CrawlEngine(corpus=...)``):

- a Zipf-distributed vocabulary: word ranks follow a continuous power law
  on [1, VOCAB_SIZE] with exponent ``ZIPF_S``, so the tokenizer's per-piece
  memo misses at a text-like rate instead of always hitting;
- several ``<h2>``/``<p>`` blocks per page, a seed-chosen share of them long
  enough (>512 tokens) to take the chunker's sentence-split path;
- a hot hub host holding every third page;
- a share of same-host links written as relative hrefs, plus fragment,
  mailto, ``.pdf`` and off-site links (the last two are never in the corpus,
  so they are fetched as errors).

``skeleton`` is the same page with the text blocks left out: it has the
same anchors in the same document order, so ``extract_page_fields`` yields
the same children from it at a fraction of the cost. The output checks feed
it to the pure-Python simulator.

``query_tables`` writes the four tables the benchmarked driver queries read
(documents, embeddings, events, lineitem) with the schemas
``__spark_entry__.queries()`` reads, including planted duplicate documents.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

HUB = "hub0.ca"

# Shape of the crawl corpus. Words per block and the long-block share make
# ~10% of blocks exceed 512 tokens; the Zipf vocabulary makes ~1/5 of a warm
# worker's tokenizer pieces new.
N_HOSTS = 16
BLOCKS = (2, 5)  # blocks per page
BLOCK_WORDS = (30, 120)  # words of an ordinary block
LONG_BLOCK_PCT = 10
LONG_BLOCK_WORDS = (520, 600)
LINKS_PER_PAGE = 10
SAME_HOST_PCT = 30  # of the links that are not fragment/mailto/pdf/off-site
ERROR_PCT = 4  # pages answering 404
VOCAB_SIZE = 200_000
ZIPF_S = 1.1
DUP_PCT = 10  # planted duplicate documents of the query tables


def _u(seed: int, *parts) -> Column:
    """Uniform double in (0, 1) from a hash of (seed, parts)."""
    h = F.xxhash64(F.lit(seed), *[p if isinstance(p, Column) else F.lit(p)
                                  for p in parts])
    return (F.pmod(h, F.lit(1 << 31)).cast("double") + 0.5) / float(1 << 31)


def _uniform_int(seed: int, lo: int, hi: int, *parts) -> Column:
    """Integer uniform on [lo, hi]."""
    return (F.floor(_u(seed, *parts) * (hi - lo + 1)) + lo).cast("long")


def zipf_rank(seed: int, vocab_size: int, zipf_s: float, *parts) -> Column:
    """Rank in [1, vocab_size] drawn from a continuous power law with
    exponent ``zipf_s`` (inverse CDF), floored."""
    a = 1.0 - zipf_s
    top = vocab_size ** a
    u = _u(seed, *parts)
    return F.least(
        F.floor(F.pow(F.lit(top - 1.0) * u + F.lit(1.0), F.lit(1.0 / a))),
        F.lit(vocab_size),
    ).cast("long")


def word_of(seed: int, rank: Column) -> Column:
    """Lower-case word of 2-9 letters for a vocabulary rank."""
    h = F.xxhash64(F.lit(seed), rank)
    letters = F.translate(F.lower(F.hex(h)), "0123456789", "qwrtyzxvbn")
    length = (F.shiftrightunsigned(h, 61) + 2).cast("int")
    return letters.substr(F.lit(1), length)


def host_of(page_id: Column) -> Column:
    """Every third page is on the hub; the others spread over the rest."""
    return F.when(F.pmod(page_id, 3) == 0, F.lit(HUB)).otherwise(
        F.concat(F.lit("site"),
                 (F.floor(page_id / 3) % (N_HOSTS - 1) + 1).cast("string"),
                 F.lit(".ca"))
    )


def url_of(page_id: Column) -> Column:
    return F.concat(F.lit("http://"), host_of(page_id),
                    F.lit("/page/"), page_id.cast("string"))


def _same_host_target(seed: int, page_id: Column, j: int,
                      n_pages: int) -> Column:
    """A page id on the same host as ``page_id`` (inverse of host_of)."""
    per_hub = max(1, n_pages // 3)
    hub_t = 3 * _uniform_int(seed, 0, per_hub - 1, page_id, "sh", j)
    h = F.floor(page_id / 3) % (N_HOSTS - 1)
    per_site = max(1, n_pages // (3 * (N_HOSTS - 1)) - 1)
    k = _uniform_int(seed, 0, per_site - 1, page_id, "sk", j)
    off = 1 + _uniform_int(seed, 0, 1, page_id, "so", j)
    site_t = 3 * (k * (N_HOSTS - 1) + h) + off
    return F.when(F.pmod(page_id, 3) == 0, hub_t).otherwise(site_t)


def _anchor(seed: int, page_id: Column, j: int, n_pages: int) -> Column:
    r = F.pmod(F.xxhash64(F.lit(seed), page_id, F.lit("lk"), F.lit(j)), 100)
    far = _uniform_int(seed, 0, n_pages - 1, page_id, "far", j)
    near = _same_host_target(seed, page_id, j, n_pages)
    # the 10 special percent are fixed; SAME_HOST_PCT of the rest are
    # relative same-host links, the remainder absolute links anywhere
    href = (
        F.when(r < 2, F.lit("#top"))
        .when(r < 4, F.lit("mailto:info@example.ca"))
        .when(r < 7, F.concat(F.lit("/files/doc"), r.cast("string"),
                              F.lit(".pdf")))
        .when(r < 10, F.concat(F.lit("http://offsite"), (r % 3).cast("string"),
                               F.lit(".example.com/x")))
        .when(r < 10 + SAME_HOST_PCT * 90 // 100,
              F.concat(F.lit("/page/"), near.cast("string")))
        .otherwise(url_of(far))
    )
    return F.concat(F.lit('<a href="'), href, F.lit('">link</a>'))


def crawl_corpus(spark: SparkSession, seed: int, n_pages: int, *,
                 skeleton: bool = False) -> DataFrame:
    """corpus(url, host, status, html) for page ids [0, n_pages); with
    ``skeleton`` the html column holds the text-free skeleton instead."""
    pid = F.col("id")
    n_blocks = _uniform_int(seed, *BLOCKS, pid, "nb")

    def block(b):
        is_long = _u(seed, pid, "lb", b) * 100 < LONG_BLOCK_PCT
        n_words = F.when(
            is_long, _uniform_int(seed, *LONG_BLOCK_WORDS, pid, "lw", b)
        ).otherwise(
            _uniform_int(seed, *BLOCK_WORDS, pid, "bw", b)
        ).cast("int")
        words = F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.concat(
                word_of(seed, zipf_rank(seed, VOCAB_SIZE, ZIPF_S, pid, b, i)),
                # a sentence end every 16 words gives the chunker's
                # sentence split real sentences to pack
                F.when(F.pmod(i, 16) == 0, F.lit(".")).otherwise(F.lit("")),
            ),
        )
        return F.concat(F.lit("<h2>Part "), b.cast("string"), F.lit("</h2>\n<p>"),
                        F.array_join(words, " "), F.lit(".</p>"))

    anchors = F.concat_ws(
        "\n", *[_anchor(seed, pid, j, n_pages) for j in range(LINKS_PER_PAGE)]
    )
    nav = F.concat(F.lit('<nav>nav <a href="'), url_of(pid),
                   F.lit('">home</a></nav>\n'))
    if skeleton:
        html = F.concat(F.lit("<html><body>\n"), nav, F.lit("<main>\n"),
                        anchors, F.lit("\n</main>\n</body></html>"))
    else:
        blocks = F.array_join(
            F.transform(F.sequence(F.lit(1), n_blocks.cast("int")), block),
            "\n",
        )
        html = F.concat(
            F.lit("<html><head><title>Page "), pid.cast("string"),
            F.lit("</title></head><body>\n"), nav,
            F.lit("<main>\n<h1>Section "), pid.cast("string"), F.lit("</h1>\n"),
            blocks, F.lit("\n<time>2024-01-01</time>\n"), anchors,
            F.lit("\n</main>\n<footer>footer junk</footer>\n</body></html>"),
        )
    status = F.when(_u(seed, pid, "st") * 100 < ERROR_PCT, F.lit(404)) \
        .otherwise(F.lit(200))
    df = spark.range(n_pages,
                     numPartitions=spark.sparkContext.defaultParallelism)
    return df.select(
        url_of(pid).alias("url"),
        host_of(pid).alias("host"),
        status.cast("int").alias("status"),
        html.alias("html"),
    )


def page_url(page_id: int) -> str:
    """url_of, driver-side."""
    host = HUB if page_id % 3 == 0 else f"site{(page_id // 3) % (N_HOSTS - 1) + 1}.ca"
    return f"http://{host}/page/{page_id}"


def seed_urls(n_seeds: int) -> list[str]:
    """URLs of the first ``n_seeds`` page ids."""
    return [page_url(i) for i in range(n_seeds)]


# -- driver-query tables ------------------------------------------------------

DOC_WORDS = ("key agg row scan slow fast table value part hash data join "
             "sort line order group merge batch stream window spark query "
             "filter column customer small big the a").split()


def _write(df: DataFrame, path: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(path)


def query_tables(spark: SparkSession, seed: int, out_dir: str, *,
                 n_docs: int, n_events: int, n_lineitem: int) -> None:
    """Write documents/embeddings/events/lineitem parquet dirs under
    ``out_dir`` (``<out_dir>/<table>.parquet``), schemas as
    ``__spark_entry__.queries()`` reads them. ``DUP_PCT`` percent of
    documents copy an earlier document's text exactly (planted duplicates
    for the dedup queries)."""
    vocab = F.array(*[F.lit(w) for w in DOC_WORDS])
    nv = len(DOC_WORDS)
    d = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    src = F.when(_u(seed, F.col("doc_id"), "dup") * 100 < DUP_PCT,
                 F.floor(_u(seed, F.col("doc_id"), "dsrc") * F.col("doc_id"))
                 ).otherwise(F.col("doc_id")).cast("long")
    n_words = _uniform_int(seed, 12, 70, src, "dn").cast("int")
    text = F.array_join(F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab, (zipf_rank(seed, nv, 1.2, src, "dw", i)).cast("int")),
    ), " ")
    docs = d.select(
        "doc_id", text.alias("text"),
        F.when(_u(seed, F.col("doc_id"), "lang") < 0.8, F.lit("en"))
        .otherwise(F.lit("fr")).alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 7).cast("string")).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    _write(docs, os.path.join(out_dir, "documents.parquet"))

    dim = 64
    emb = spark.range(n_docs).withColumnRenamed("id", "vec_id").select(
        "vec_id",
        F.transform(F.sequence(F.lit(1), F.lit(dim)),
                    lambda i: ((_u(seed, F.col("vec_id"), "e", i) - 0.5) * 0.6)
                    .cast("float")).alias("embedding"),
        _uniform_int(seed, 0, 2, F.col("vec_id"), "lab").cast("int").alias("label"),
    )
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))

    eid = F.col("event_id")
    ev = spark.range(n_events).withColumnRenamed("id", "event_id").select(
        "event_id",
        (F.lit(1_704_067_200) + F.floor(_u(seed, eid, "ts") * 86_400 * 7))
        .cast("timestamp").cast("timestamp_ntz").alias("ts"),
        _uniform_int(seed, 0, 199, eid, "u").alias("user_id"),
        F.element_at(F.array(*[F.lit(x) for x in
                               ("click", "view", "error", "purchase")]),
                     _uniform_int(seed, 1, 4, eid, "et").cast("int")).alias("event_type"),
        F.round(_u(seed, eid, "v") * 100, 2).alias("value"),
        F.concat(F.lit('{"k": '), _uniform_int(seed, 0, 99, eid, "k").cast("string"),
                 F.lit("}")).alias("props"),
    )
    _write(ev, os.path.join(out_dir, "events.parquet"))

    lk = F.col("id")
    qty = _uniform_int(seed, 1, 50, lk, "q").cast("double")
    li = spark.range(n_lineitem).select(
        F.floor(lk / 4).cast("long").alias("l_orderkey"),
        _uniform_int(seed, 0, 1999, lk, "p").alias("l_partkey"),
        _uniform_int(seed, 0, 99, lk, "s").alias("l_suppkey"),
        ((lk % 4) + 1).cast("int").alias("l_linenumber"),
        qty.alias("l_quantity"),
        F.round(qty * (F.lit(900.0) + _u(seed, lk, "pr") * 1100), 2)
        .alias("l_extendedprice"),
        (_uniform_int(seed, 0, 10, lk, "d") / 100.0).alias("l_discount"),
        (_uniform_int(seed, 0, 8, lk, "t") / 100.0).alias("l_tax"),
        F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                     _uniform_int(seed, 1, 3, lk, "rf").cast("int")).alias("l_returnflag"),
        F.element_at(F.array(F.lit("F"), F.lit("O")),
                     _uniform_int(seed, 1, 2, lk, "ls").cast("int")).alias("l_linestatus"),
        (F.lit(694_224_000) + F.floor(_u(seed, lk, "sd") * 86_400 * 2_500))
        .cast("timestamp").cast("timestamp_ntz").alias("l_shipdate"),
    )
    _write(li, os.path.join(out_dir, "lineitem.parquet"))


def planted_duplicates(spark: SparkSession, data_dir: str) -> set[tuple[int, int]]:
    """(lo, hi) doc_id pairs with identical text in the generated documents."""
    d = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
    a, b = d.alias("a"), d.alias("b")
    rows = a.join(b, (F.col("a.text") == F.col("b.text"))
                  & (F.col("a.doc_id") < F.col("b.doc_id"))) \
        .select("a.doc_id", "b.doc_id").collect()
    return {(int(r[0]), int(r[1])) for r in rows}

