"""Positional inverted-index build — the retrieval-side corpus product.

Engine-added capability: the (word -> postings) index a search/RAG stack
builds over the crawl.  One row per (word, doc) posting:

    (word, df_docs, doc_id, positions, n_hits)

with ``positions`` the sorted 0-based token offsets of the word in the
document (the engine's frozen tokenization: casefold -> whitespace split,
the same rule as vocabulary/tf-idf, so the index is consistent with the
corpus stats) and ``df_docs`` the word's true document frequency.

Scale design (10^12 docs):
- the explode emits only (word, doc_id, pos) — narrow, never the text;
- the postings aggregate is keyed by (word, doc_id): a stopword's rows
  SPREAD over documents, so the hot key the word-keyed groupBy would melt
  on simply does not exist at this stage — per-group state is one doc's
  offsets of one word (bounded by doc length);
- df_docs comes from re-aggregating the POSTINGS frame (one row per
  (word, doc) — counting rows per word IS df), so the raw token explosion
  is scanned once and the second aggregate's input is collapsed already;
- the df join back is word-keyed; a stopword's df rows land one reducer —
  that is the one skewable exchange, which is why ``max_df`` prunes
  stopwords IMMEDIATELY after (AQE skew-join splits the transient hot
  partition; the pruned index never stores them).  Dropped words are the
  caller-visible ``df_docs > max_df`` set — never a silent cap: the
  returned frame's own df column documents the rule.

Reference analog: none (the reference computes no corpus statistics);
this widens the vocabulary/tf-idf suite to a materializable index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Raw (word, doc_id, positions, n_hits) postings — no df annotation.
    One row per (word, doc): the append-only unit of the index (a doc's
    postings never change once built), which is what makes the streaming
    maintenance path (``streaming/index_stream.py``) pure O(batch)
    appends."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("pos", "tok"),
    ).filter(F.length("tok") > 0)
    return (
        toks.groupBy("tok", "doc_id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("positions"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .select(
            F.col("tok").alias("word"), "doc_id", "positions", "n_hits"
        )
    )


def annotate_df(postings: DataFrame, max_df: int | None = None) -> DataFrame:
    """Add df_docs to raw postings (one word-keyed re-aggregate of the
    collapsed postings frame + one join); prune words above ``max_df``."""
    wdf = postings.groupBy("word").agg(F.count(F.lit(1)).alias("df_docs"))
    out = postings.join(wdf, "word")
    if max_df is not None:
        out = out.filter(F.col("df_docs") <= max_df)
    return out.select("word", "df_docs", "doc_id", "positions", "n_hits")


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Build positional postings; words with ``df_docs > max_df`` (corpus
    stopwords) are excluded from the returned index."""
    return annotate_df(doc_postings(df, text_col, id_col), max_df)


def posting_compress(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Postings-compression sizing -> (word, df_docs, bytes_varint,
    bytes_raw): the exact byte cost of each term's doc-id list under
    DELTA + VARINT coding (the Lucene/WAND wire format) vs raw 8-byte
    ids — the index-engineering estimate that decides tiering and
    caching (stopword lists compress ~8x, rare terms ~1x).

    Exact integer arithmetic: gap_1 = id_0 + 1 (delta from -1, so every
    gap >= 1), gap_k = id_k - id_{k-1}; varint bytes per gap =
    ceil(bitlen/7) = (length(bin(gap)) + 6) div 7 — bin() of a positive
    int is the unpadded binary string in BOTH engines (the spectral
    precedent), so the byte count replays exactly.

    Plan: the doc_postings agg collapsed to (word, doc_id) + ONE
    word-keyed lag window + one word-keyed aggregate on the SAME
    Exchange."""
    from pyspark.sql import Window

    pl = doc_postings(df, text_col, id_col).select("word", "doc_id")
    w = Window.partitionBy("word").orderBy("doc_id")
    gaps = pl.withColumn(
        "_gap",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w),
            F.col("doc_id") + 1,
        ),
    ).withColumn(
        "_vb", F.expr("(length(bin(_gap)) + 6) div 7")
    )
    return gaps.groupBy("word").agg(
        F.count(F.lit(1)).alias("df_docs"),
        F.sum("_vb").cast("long").alias("bytes_varint"),
        (F.count(F.lit(1)) * 8).cast("long").alias("bytes_raw"),
    )


def code_size_compare(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", rice_k: int = 3
) -> DataFrame:
    """Integer-coding shoot-out per term: exact total BITS of the doc-id
    gap list under Elias gamma, Elias delta, Rice(k) and varint — the
    compression-engineering companion to ``posting_compress`` that
    answers WHICH code to pick per posting list (gamma wins on dense
    stopword lists, Rice on geometric gaps, varint on byte-aligned
    wire formats).

    All sizes are closed forms of ``blen(g) = length(bin(g))`` (the
    unpadded-binary bit length both engines produce — the
    posting_compress precedent) on gaps >= 1:

    - gamma:  2*blen(g) - 1               (Elias 1975)
    - delta:  blen(g) - 1 + 2*blen(blen(g)) - 1
    - rice:   ((g - 1) div 2^k) + 1 + k   (code v = g-1, unary q + k LSBs)
    - varint: 8 * ((blen(g) + 6) div 7)
    - ef:     per LIST (not per gap): n*(l+2) with l = blen(u div n) - 1
              lower bits (0 when u < n), u = max doc_id + 1 — the
              quasi-succinct Elias-Fano bound (Vigna 2013, the modern
              Lucene representation); the whole-list term every per-gap
              code lacks

    Plan: identical to posting_compress — the postings collapse, ONE
    word-keyed lag window and the aggregate all on the same Exchange.
    """
    from pyspark.sql import Window

    pl = doc_postings(df, text_col, id_col).select("word", "doc_id")
    w = Window.partitionBy("word").orderBy("doc_id")
    gaps = pl.withColumn(
        "_gap",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w),
            F.col("doc_id") + 1,
        ),
    ).withColumn("_bl", F.expr("length(bin(_gap))"))
    div = 2 ** int(rice_k)
    sized = (
        gaps.withColumn("_gamma", F.lit(2) * F.col("_bl") - 1)
        .withColumn(
            "_delta",
            F.col("_bl") - 1 + F.lit(2) * F.expr("length(bin(_bl))") - 1,
        )
        .withColumn(
            "_rice", F.expr(f"(_gap - 1) div {div}") + F.lit(1 + int(rice_k))
        )
        .withColumn("_vbits", F.expr("8 * ((length(bin(_gap)) + 6) div 7)"))
    )
    agg = sized.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs"),
        F.sum("_gamma").cast("long").alias("bits_gamma"),
        F.sum("_delta").cast("long").alias("bits_delta"),
        F.sum("_rice").cast("long").alias("bits_rice"),
        F.sum("_vbits").cast("long").alias("bits_varint"),
        # u = max doc_id + 1 == sum of gaps (gap_1 = id_0 + 1 telescopes)
        F.sum("_gap").cast("long").alias("_u"),
    )
    return agg.select(
        "word",
        "df_docs",
        "bits_gamma",
        "bits_delta",
        "bits_rice",
        "bits_varint",
        F.expr(
            "df_docs * (CASE WHEN _u div df_docs >= 1 "
            "THEN length(bin(_u div df_docs)) - 1 ELSE 0 END + 2)"
        ).cast("long").alias("bits_ef"),
    )


def lcp_expr(a: str, b: str, max_pow: int = 32) -> str:
    """Longest-common-prefix length of two string expressions as ONE
    SQL text valid in BOTH Spark SQL and DuckDB (substr/length/CASE
    only) — binary lifting over prefix comparisons: k += p whenever the
    (k+p)-prefixes agree, p = max_pow..1 (measures LCPs up to
    2*max_pow - 1); the final least() clamps the overshoot past the
    shorter string. log2(max_pow)+1 nested stages, pure codegen, no
    loops at runtime."""
    # ADVICE r5: the p //= 2 step sequence only realizes every LCP length
    # when max_pow is a power of two (48 -> 48,24,12,6,3,1 cannot measure
    # LCP=2) — enforce the invariant instead of silently mis-measuring
    if max_pow < 1 or max_pow & (max_pow - 1):
        raise ValueError(f"lcp_expr: max_pow must be a power of two, got {max_pow}")
    powers = []
    p = int(max_pow)
    while p >= 1:
        powers.append(p)
        p //= 2
    k = "0"
    for p in powers:
        k = (
            f"({k} + CASE WHEN substr({a}, 1, {k} + {p}) = "
            f"substr({b}, 1, {k} + {p}) THEN {p} ELSE 0 END)"
        )
    return f"least({k}, length({a}), length({b}))"


def front_coding(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Term-dictionary FRONT-CODING sizing per first-letter block — the
    dictionary half of the index-compression story (code_size_compare
    holds the postings half): within each block the sorted terms store
    only (lcp header, suffix), the classical restart-block layout
    (Witten/Moffat/Bell, Managing Gigabytes ch. 4).

    Exact bytes: raw = sum(len) + n (1-byte length headers); front =
    per term (len - lcp(prev, term)) + 2 (lcp + suffix-len headers),
    first term pays full length. The lcp is the shared binary-lifting
    codegen (``lcp_expr`` — the SAME SQL text runs on both engines, so
    the oracle cannot drift).

    Scale shape: blocks ARE the partitioning (the window partitions by
    the first letter — restart boundaries double as shuffle keys, no
    global sort); one vocab agg + one block window + one block agg.
    """
    from pyspark.sql import Window

    pl = doc_postings(df, text_col, id_col)
    vocab = pl.groupBy("word").agg(F.count(F.lit(1)).alias("df_docs"))
    blk = vocab.select(
        F.substring("word", 1, 1).alias("blk"), "word"
    )
    w = Window.partitionBy("blk").orderBy("word")
    lagged = blk.withColumn("_prev", F.lag("word").over(w))
    lcp = lcp_expr("_prev", "word")
    sized = lagged.select(
        "blk",
        F.length("word").alias("_len"),
        F.when(F.col("_prev").isNull(), F.length("word") + 2)
        .otherwise(F.length("word") - F.expr(lcp) + 2)
        .cast("long")
        .alias("_fc"),
    )
    return sized.groupBy("blk").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        (F.sum("_len") + F.count(F.lit(1))).cast("long").alias("bytes_raw"),
        F.sum("_fc").cast("long").alias("bytes_fc"),
    )
