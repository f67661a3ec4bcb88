"""Text analysis column functions over the ``documents`` table.

Everything here is built from JVM-side ``pyspark.sql.functions`` (no Python
UDFs) so the expressions participate in whole-stage codegen and push down
to the scan. Each has an ANSI-SQL twin in ``__spark_entry__.oracle_sql``
(DuckDB-checkable) - keep both in sync.

Mirrors the reference's text-quality heuristics (garbage-text scoring in
``/root/reference/docling/models/stages/page_preprocessing/page_preprocessing_model.py:126-151``)
re-expressed as fleet-scale columns rather than per-page scores.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F


def _ident(col: str) -> str:
    """``col`` as a backtick-quoted SQL identifier."""
    return "`" + col.replace("`", "``") + "`"


def md5_int_sql(expr_sql: str, prefix: str = "", digits: int = 15) -> str:
    """SQL text of the md5-60bit hash family: the first ``digits`` hex
    digits of md5(prefix || expr) as a non-negative BIGINT. DuckDB
    computes the identical value, which is what keeps the md5-mode
    operators under exact oracles; :func:`md5_int` is the driver twin.
    ``prefix`` is escaped into a SQL string literal."""
    if prefix:
        lit = prefix.replace("\\", "\\\\").replace("'", "\\'")
        expr_sql = f"concat('{lit}', {expr_sql})"
    return (f"CAST(conv(substring(md5({expr_sql}), 1, {digits}), 16, 10) "
            f"AS BIGINT)")


def md5_int(s: str | None, prefix: str = "", digits: int = 15) -> int | None:
    """Driver-side twin of :func:`md5_int_sql`: md5 of the same UTF-8
    bytes, so the two are bit-equal (NULL stays NULL)."""
    if s is None:
        return None
    return int(hashlib.md5((prefix + s).encode()).hexdigest()[:digits], 16)


# Tiny embedded stopword lists - deterministic language-ID heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "una", "del", "por", "con", "para"],
}


def token_count(col="text") -> Column:
    """Whitespace token count; empty/null-safe."""
    t = F.trim(F.col(col))
    return F.when(t == "", 0).otherwise(F.size(F.split(t, r"\s+")))


def char_count(col="text") -> Column:
    return F.length(F.col(col))


def avg_token_len(col="text") -> Column:
    return (F.length(F.regexp_replace(F.col(col), r"\s+", ""))
            / F.greatest(token_count(col), F.lit(1)))


def punct_ratio(col="text") -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    total = F.length(F.col(col))
    punct = total - F.length(F.regexp_replace(F.col(col), r"[!-/:-@\[-`{-~]", ""))
    return F.when(total == 0, 0.0).otherwise(punct / total)


def digit_ratio(col="text") -> Column:
    total = F.length(F.col(col))
    digits = total - F.length(F.regexp_replace(F.col(col), r"[0-9]", ""))
    return F.when(total == 0, 0.0).otherwise(digits / total)


def _word_tokens(col="text") -> Column:
    """Maximal \\w-runs of the lowercased text (equivalent to word-boundary
    matching for ASCII stopwords)."""
    return F.split(F.lower(F.col(col)), r"[^0-9a-z_]+")


def stopword_hits(col="text", lang: str = "en") -> Column:
    """Count of stopword occurrences (word-boundary matched, lowercase).

    One split + one array filter instead of 10 regexp_replace passes:
    identical counts (a stopword occurrence as a maximal word-run is
    exactly a \\b-delimited match), but the generated code stays inside
    the 64KB whole-stage-codegen budget even when four languages are
    combined in one projection (the old form tripped janino's fallback).
    """
    words = _word_tokens(col)
    return F.size(
        F.filter(words, lambda w: w.isin(*STOPWORDS[lang]))).cast("long")


def quality_score(col="text") -> Column:
    """Composite [0,1] quality score: length, punctuation sanity, stopword
    presence - a web-text quality prior in the C4/Gopher style, built from
    pure column algebra."""
    tc = token_count(col)
    length_ok = F.when(tc.between(10, 100000), 1.0).otherwise(
        F.when(tc > 0, 0.3).otherwise(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.3, 1.0).otherwise(0.2)
    stop_ok = F.when(stopword_hits(col) > 0, 1.0).otherwise(0.4)
    atl = avg_token_len(col)
    token_ok = F.when(atl.between(2.0, 12.0), 1.0).otherwise(0.3)
    return (0.3 * length_ok + 0.25 * punct_ok + 0.25 * stop_ok
            + 0.2 * token_ok)


def lang_guess(col="text") -> Column:
    """Pick the language whose stopword hit count is highest (ties -> first
    in en/de/fr/es order); 'und' when nothing matches."""
    hits = [(lang, stopword_hits(col, lang)) for lang in STOPWORDS]
    best_lang = F.lit("und")
    best_hits = F.lit(0).cast("long")
    # forward order with strict '>' - a later language must strictly beat
    # the running best, so on ties the earlier language (en first) wins,
    # matching the oracle's CASE ... WHEN h_en = GREATEST(...) ordering
    for lang, h in hits:
        cond = h > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, h).otherwise(best_hits)
    return best_lang


def fingerprint(col="text") -> Column:
    """Document fingerprint: md5 of the whitespace/case-normalized text
    (md5 exists in both Spark and DuckDB, so the oracle can recompute it)."""
    normalized = F.lower(F.regexp_replace(F.trim(F.col(col)), r"\s+", " "))
    return F.md5(normalized)


def doc_stats(documents: DataFrame) -> DataFrame:
    """The headline text-analysis projection over documents."""
    return documents.select(
        "doc_id",
        "lang",
        token_count("text").alias("n_tokens"),
        char_count("text").alias("n_chars2"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(digit_ratio("text"), 6).alias("digit_ratio"),
        fingerprint("text").alias("fingerprint"),
    )



# Gopher's English-presence stopword list (Rae et al. 2021, "quality
# filtering" appendix): a doc must contain >=2 distinct entries.
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(documents: DataFrame,
                         min_words: int = 50,
                         max_words: int = 100_000) -> DataFrame:
    """Gopher-style repetition/quality gate as pure column algebra.

    Per-document booleans for the deterministic subset of the Gopher
    rules (line-shape rules need newline structure the corpus may lack):

    - ``words_ok``: whitespace word count in [min_words, max_words]
    - ``word_len_ok``: mean word length in [3, 10]
    - ``symbol_ok``: (# + ellipsis) to word ratio <= 0.1
    - ``alpha_ok``: >=80% of words contain an alphabetic char
    - ``stop_ok``: >=2 distinct entries of the Gopher stopword list
    - ``pass_gopher``: all of the above

    One projection, no shuffle, no UDF - the filter pushes down to the
    scan when used as a WHERE clause at 100 TB.
    """
    words = _word_list("text")
    n_words = F.size(words)
    mean_wl = (F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
               / F.greatest(n_words, F.lit(1)))
    n_symbols = (F.length(F.col("text"))
                 - F.length(F.regexp_replace(F.col("text"),
                                             r"[#…]", "")))
    alpha_frac = (F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
                  / F.greatest(n_words, F.lit(1)))
    lowered = _word_tokens("text")
    n_stops = F.size(F.array_intersect(
        F.array_distinct(lowered),
        F.array(*[F.lit(s) for s in GOPHER_STOPS])))
    words_ok = n_words.between(min_words, max_words)
    word_len_ok = mean_wl.between(3.0, 10.0)
    symbol_ok = (n_symbols / F.greatest(n_words, F.lit(1))) <= 0.1
    alpha_ok = alpha_frac >= 0.8
    stop_ok = n_stops >= 2
    return documents.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        words_ok.alias("words_ok"),
        word_len_ok.alias("word_len_ok"),
        symbol_ok.alias("symbol_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (words_ok & word_len_ok & symbol_ok & alpha_ok & stop_ok)
        .alias("pass_gopher"))


def _word_list(col="text") -> Column:
    """Whitespace-split word array of the trimmed text (no lowering)."""
    return F.split(F.trim(F.col(col)), r"\s+")


def passage_blocks(documents: DataFrame, block_words: int = 20) -> DataFrame:
    """Explode each document into disjoint ``block_words``-word passages
    (doc_id, block_i, block). The passage is the dedup unit for
    cross-document repeated-span removal (CCNet/RefinedWeb-style
    paragraph dedup, adapted to newline-free corpora)."""
    # words as a materialized column: a direct reference inside the
    # transform lambda would re-evaluate the split once per block
    wdf = documents.select("doc_id", _word_list("text").alias("__w"))
    words = F.col("__w")
    nblocks = F.ceil(F.size(words) / F.lit(block_words)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(nblocks, F.lit(1)) - 1)
    blocks = F.transform(
        idx,
        lambda i: F.array_join(
            F.slice(words, i * block_words + 1, block_words), " "))
    return wdf.select(
        "doc_id", F.posexplode(blocks).alias("block_i", "block"))


def duplicated_passage_stats(documents: DataFrame,
                             block_words: int = 20,
                             min_docs: int = 2) -> DataFrame:
    """Per-document duplicated-passage profile.

    A passage is 'duplicated' when its exact text occurs in
    >= ``min_docs`` DISTINCT documents. Output: (doc_id, n_blocks,
    n_dup_blocks, dup_ratio).

    100-TB shape: one explode (~n_words/block_words rows), one
    hash-groupBy on the md5 key (uniform by construction), one equi-join
    back, one per-doc aggregate. The countDistinct is exact to stay
    oracle-checkable; at fleet scale swap for approx_count_distinct or a
    (h, doc_id) dedup + count, which bounds the hot-key state the same
    way the LSH paths cap hot buckets.
    """
    b = passage_blocks(documents, block_words).withColumn(
        "h", F.md5("block"))
    df_counts = (b.groupBy("h")
                 .agg(F.countDistinct("doc_id").alias("df")))
    per_doc = (b.join(df_counts, "h")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_blocks"),
                    F.sum(F.when(F.col("df") >= min_docs, 1)
                          .otherwise(0)).alias("n_dup_blocks")))
    return per_doc.select(
        "doc_id", "n_blocks", "n_dup_blocks",
        F.round(F.col("n_dup_blocks") / F.greatest("n_blocks", F.lit(1)),
                4).alias("dup_ratio"))


def _gram_hashes(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, h): md5 of every k-word gram, built as pure array
    algebra in codegen (transform over a slice sequence, no window).

    The word array is materialized as a column FIRST: referencing the
    split expression directly inside the transform lambda duplicates
    it into the lambda body, where it is re-evaluated once per gram
    (an O(n_words * text_len) blowup per document - measured 4.5x on
    the sf0.1 corpus). Same grams, same hashes.
    """
    wdf = documents.select("doc_id", _word_list("text").alias("__w"))
    words = F.col("__w")
    grams = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.array_join(F.slice(words, i + 1, k), " "))
    ).otherwise(F.array().cast("array<string>"))
    return (wdf.select("doc_id", F.posexplode(grams)
                       .alias("pos", "gram"))
            .select("doc_id", "pos", F.md5("gram").alias("h")))


def split_leakage(documents: DataFrame, k: int = 8,
                  val_buckets: int = 10, buckets: int = 100) -> DataFrame:
    """Train/val split hygiene audit: assign every doc a deterministic
    split (md5 bucket of doc_id - the same assignment a trainer would
    ship), then count the docs that share a duplicated ``k``-word gram
    with a doc on the OTHER side of the split. Those near-boundary
    duplicates inflate eval scores; this is the audit you run BEFORE
    trusting a held-out set.

    100-TB shape: the gram index is the dup_spans explode; the
    cross-split test is a (h, split) distinct + one hash agg on h; leaky
    docs come back via a semi-join. No window, no data-scale broadcast.
    """
    split = F.when(sample_bucket("doc_id", buckets) < val_buckets,
                   F.lit("val")).otherwise(F.lit("train"))
    labeled = documents.select("doc_id", split.alias("split"))
    gh = (_gram_hashes(documents, k).select("doc_id", "h").distinct()
          .join(labeled, "doc_id"))
    cross = (gh.select("h", "split").distinct()
             .groupBy("h").agg(F.count(F.lit(1)).alias("n_splits"))
             .where(F.col("n_splits") >= 2).select("h"))
    leaky = (gh.join(cross, "h", "left_semi")
             .select("doc_id").distinct()
             .withColumn("leak", F.lit(1)))
    return (labeled.join(leaky, "doc_id", "left")
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.coalesce("leak", F.lit(0))).alias("n_leaky"))
            .select("split", "n_docs", "n_leaky",
                    F.round(F.col("n_leaky") / F.col("n_docs"), 6)
                    .alias("leak_ratio")))


def compression_quality(documents: DataFrame,
                        level: int = 6) -> DataFrame:
    """zlib compression-ratio quality proxy (the CCNet/RedPajama-family
    signal): highly repetitive or templated text compresses far below
    organic prose, and random noise barely compresses at all. Flags
    both tails.

    This is the documented when-Python-is-unavoidable pattern: no SQL
    engine exposes zlib, so the ratio runs as an Arrow-batched
    ``mapInPandas`` (one Python call per record batch, vectorized I/O,
    never per-row pickling); everything else in this module stays in
    codegen. Rows-only in the driver gate - the unit tests pin exact
    ratios instead.
    """
    import pandas as pd  # noqa: F401  (executor-side import)

    def _batches(batches):
        import zlib

        import pandas as pd
        for pdf in batches:
            texts = pdf["text"].fillna("")
            raw = [t.encode("utf-8") for t in texts]
            comp = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(b) for b in raw],
                "n_compressed": comp,
                "compression_ratio": [
                    round(c / max(len(b), 1), 6)
                    for b, c in zip(raw, comp)],
            })

    return (documents.select("doc_id", "text")
            .mapInPandas(_batches,
                         schema=("doc_id long, n_bytes long, "
                                 "n_compressed long, "
                                 "compression_ratio double")))


def bigram_entropy(documents: DataFrame) -> DataFrame:
    """Per-source bigram conditional entropy H(w2|w1) in bits - the
    text-diversity signal that separates template/boilerplate-heavy
    sources (low entropy: the next word is predictable) from organic
    prose. Computed exactly: sum_w1 p(w1) * H(w2|w1) over whitespace
    bigrams.

    Two hash aggs ((source,w1,w2) then (source,w1)) and one final
    source agg - all map-side combinable; bigram construction is array
    algebra in codegen, no window, no UDF.
    """
    # words as a materialized column: a direct reference inside the
    # transform lambda re-evaluates the split once per bigram
    wdf = documents.select("source", _word_list("text").alias("__w"))
    words = F.col("__w")
    pairs = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - 2),
            lambda i: F.struct(
                F.element_at(words, i.cast("int") + 1).alias("w1"),
                F.element_at(words, i.cast("int") + 2).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (wdf.select("source", F.explode(pairs).alias("p"))
          .select("source", F.col("p.w1"), F.col("p.w2")))
    c2 = bg.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c"))
    c1 = c2.groupBy("source", "w1").agg(F.sum("c").alias("n1"))
    h1 = (c2.join(c1, ["source", "w1"])
          .groupBy("source", "w1", "n1")
          .agg((-F.sum((F.col("c") / F.col("n1"))
                       * F.log2(F.col("c") / F.col("n1")))).alias("h")))
    return (h1.groupBy("source")
            .agg(F.sum("n1").alias("n_bigrams"),
                 F.round(F.sum(F.col("n1") * F.col("h"))
                         / F.sum("n1"), 6).alias("cond_entropy_bits")))


def hash_embed(documents: DataFrame, dim: int = 32) -> DataFrame:
    """Feature-hashing text embeddings (Weinberger et al. 2009): each
    word hashes to a signed coordinate, the doc vector is the signed
    count histogram, L2-normalized - a from-scratch deterministic
    embedder that feeds the cosine/ANN operators directly from raw
    text, no external model. md5-60bit hash family so the oracle
    recomputes every coordinate exactly.

    One explode + one (doc, bucket) hash agg + per-doc map assembly in
    codegen; the vector never exceeds ``dim`` doubles per doc.
    """
    salt = "e\x01"
    h = F.expr(md5_int_sql("`word`", salt))
    # sign from the 16th hex digit of the same md5 (Catalyst evaluates
    # the shared md5 once per word): integer-exact in every engine
    # (avoids float floor(h/dim) whose 2^60-range rounding could drift)
    hx = F.md5(F.concat(F.lit(salt), F.col("word")))
    sign_bit = F.conv(F.substring(hx, 16, 1), 16, 10).cast("int") % 2
    toks = (documents
            .select("doc_id", F.explode(_word_list("text")).alias("word"))
            .where(F.col("word") != "")
            .select("doc_id",
                    F.pmod(h, F.lit(dim)).cast("int").alias("bucket"),
                    F.when(sign_bit == 0, F.lit(1.0))
                    .otherwise(F.lit(-1.0)).alias("sign")))
    per = toks.groupBy("doc_id", "bucket").agg(
        F.sum("sign").alias("val"))
    m = per.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(
            F.struct("bucket", "val"))).alias("m"))
    # map lookup is key-based (bucket int), missing buckets -> 0.0
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.col("m")[i.cast("int")], F.lit(0.0)))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0),
                              lambda acc, x: acc + x * x))
    unit = F.when(norm > 0,
                  F.transform(vec, lambda x: F.round(x / norm, 6))
                  ).otherwise(F.transform(vec, lambda x: x))
    return m.select("doc_id", unit.alias("embedding"))


def source_mix_weights(documents: DataFrame, alpha: float = 0.3,
                       token_budget: int = 1_000_000) -> DataFrame:
    """Temperature-based corpus mixing (the CC-100/mT5 recipe): source
    sampling weight w_i = p_i^alpha / sum_j p_j^alpha over the token
    distribution, plus the expected token draw and effective epochs per
    source under ``token_budget`` - the config a trainer feeds the
    sampler; alpha < 1 up-weights small sources.

    One source-keyed agg (map-side partials), one 1-row normalizer
    broadcast back. round(6) absorbs float summation order.
    """
    per = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count()).alias("n_tokens"))
    tot = per.select(F.sum("n_tokens").cast("double").alias("total"))
    p = per.crossJoin(F.broadcast(tot)).withColumn(
        "p_alpha", F.pow(F.col("n_tokens") / F.col("total"), alpha))
    z = p.select(F.sum("p_alpha").alias("z"))
    return (p.crossJoin(F.broadcast(z))
            .select("source", "n_docs",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.round(F.col("p_alpha") / F.col("z"), 6)
                    .alias("weight"),
                    F.round(F.lit(float(token_budget)) * F.col("p_alpha")
                            / F.col("z"), 2).alias("expected_tokens"),
                    F.round(F.lit(float(token_budget)) * F.col("p_alpha")
                            / F.col("z") / F.col("n_tokens"), 6)
                    .alias("epochs")))


def length_quantiles(documents: DataFrame,
                     approx: bool = False) -> DataFrame:
    """Per-source document-length distribution (p10/p50/p90 of n_chars
    + mean) - the profile that sizes length-bucketed batching and flags
    sources whose length regime shifted between crawls. Exact
    percentiles by default (Spark ``percentile`` == DuckDB
    ``quantile_cont``) so the oracle can recompute them
    value-for-value; exact aggregation state is bounded by the value
    cardinality of int lengths, but at 100 TB pass ``approx=True`` to
    use ``percentile_approx`` (fixed-size t-digest-style sketch state,
    same plan shape - one hash agg, no extra Exchange)."""
    pct = "percentile_approx" if approx else "percentile"
    return documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(f"{pct}(n_chars, 0.1)").alias("p10"),
        F.expr(f"{pct}(n_chars, 0.5)").alias("p50"),
        F.expr(f"{pct}(n_chars, 0.9)").alias("p90"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"))


def gram_novelty(documents: DataFrame, k: int = 8) -> DataFrame:
    """Per-document novelty: the fraction of the doc's distinct k-grams
    whose FIRST corpus occurrence (by doc_id order) is this document -
    the contribution score used to order/curate corpora (a doc that
    only restates earlier text scores ~0, fresh text ~1).

    One distinct + one min-agg on the gram hash + one join back + one
    per-doc agg; min(doc_id) collapses map-side, so the hottest
    boilerplate gram never concentrates on a reducer.
    """
    d = _gram_hashes(documents, k).select("doc_id", "h").distinct()
    first = d.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (d.join(first, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1)
                       .otherwise(0)).alias("n_novel"))
            .select("doc_id", "n_grams", "n_novel",
                    F.round(F.col("n_novel") / F.col("n_grams"), 6)
                    .alias("novelty")))


def cdc_chunks(documents: DataFrame, divisor: int = 16,
               max_ids: int = 0) -> DataFrame:
    """Content-defined chunking (FastCDC idea at word granularity):
    a chunk boundary opens at word 0 and wherever the word's md5-60bit
    hash is divisible by ``divisor`` - so chunk boundaries depend only
    on CONTENT, and an insertion early in a document shifts only its
    own chunk, leaving every later chunk hash intact (the property that
    makes chunk-level dedup stable under edits, unlike fixed windows).

    Output: (doc_id, chunk_id, start_pos, n_words, chunk_hash). Windows
    are per-document (bounded by doc length); the chunk text never
    leaves the executor - only its md5 does.
    """
    words = _word_list("text")
    toks = documents.select(
        "doc_id", F.posexplode(words).alias("pos", "word"))
    is_boundary = F.when(
        (F.col("pos") == 0)
        | (F.pmod(F.expr(md5_int_sql("`word`")), F.lit(divisor)) == 0),
        1).otherwise(0)
    w_run = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marked = toks.withColumn("chunk_id",
                             F.sum(is_boundary).over(w_run))
    return (marked.groupBy("doc_id", "chunk_id")
            .agg(F.min("pos").alias("start_pos"),
                 F.count(F.lit(1)).alias("n_words"),
                 F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("pos", "word"))),
                         lambda x: x["word"]), " ")).alias("chunk_hash"))
            .select("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
                    "start_pos", "n_words", "chunk_hash"))


def dup_span_manifest(documents: DataFrame, k: int = 8,
                      min_count: int = 2) -> DataFrame:
    """Exact-substring duplicate-span manifest (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    word-granular Spark adaptation): for every document, the maximal
    word-index spans covered by ``k``-word sequences that occur
    >= ``min_count`` times in the corpus - the cut list a trainer
    applies BEFORE tokenization, finer than passage/doc-level dedup.

    100-TB shape: gram construction is pure array algebra in codegen
    (transform over a slice sequence - no lead() window, no UDF); the
    dup test is ONE hash agg on md5(gram) with map-side partials; the
    span merge (classic island detection) uses per-DOC windows only, so
    partition size is bounded by document length, never corpus size.
    The suffix array of the paper is replaced by the gram index - same
    detected spans for span lengths >= k, no global sort.
    """
    g = _gram_hashes(documents, k)
    # two consumers (dup test + span starts): materialize the gram index
    # once instead of re-scanning text and rebuilding every gram twice
    g = g.localCheckpoint(eager=False)
    dup_h = (g.groupBy("h")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .where(F.col("cnt") >= min_count)
             .select("h"))
    starts = g.join(dup_h, "h", "left_semi")
    w_prev = (Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    islands = (starts
               .withColumn("prev_end",
                           F.max(F.col("pos") + (k - 1)).over(w_prev))
               .withColumn("is_new",
                           F.when(F.col("prev_end").isNull()
                                  | (F.col("pos")
                                     > F.col("prev_end") + 1), 1)
                           .otherwise(0))
               .withColumn("island", F.sum("is_new").over(w_run)))
    return (islands.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + (k - 1)).alias("span_end"),
                 F.count(F.lit(1)).alias("n_grams"))
            .select("doc_id", "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .alias("span_words"),
                    "n_grams"))


def boilerplate_scores(pages: DataFrame, html_col: str = "html",
                       link_ratio_max: float = 0.5,
                       tag_density_max: float = 0.25) -> DataFrame:
    """Tag-density / link-ratio boilerplate scoring over raw html
    (north-star operator: cheap column-algebra pre-filter that runs at
    the scan BEFORE the full DOM extraction; pages flagged boilerplate
    can be dropped without paying the Python parse).

    - ``tag_density``: markup tags per html byte - template/chrome-heavy
      pages score high;
    - ``link_char_ratio``: anchor-tag count x mean-link-length proxy vs
      total length - nav/link-farm pages score high;
    - ``is_boilerplate``: either ratio beyond its threshold.

    All regexp_count/length expressions - whole-stage codegen, no UDF,
    usable as a pushed-down WHERE at 100 TB.
    """
    html_s = F.col(html_col).cast("string")
    n_bytes = F.length(html_s)
    n_tags = F.regexp_count(html_s, F.lit(r"<[A-Za-z/!]"))
    n_links = F.regexp_count(html_s, F.lit(r"<[aA][\s>]"))
    tag_density = n_tags / F.greatest(n_bytes, F.lit(1))
    # ~40 html bytes per anchor is the CommonCrawl-ish link footprint;
    # the proxy avoids extracting anchor text pre-parse
    link_ratio = (n_links * 40.0) / F.greatest(n_bytes, F.lit(1))
    return pages.select(
        "url",
        n_bytes.alias("html_bytes"),
        n_tags.cast("long").alias("n_tags"),
        n_links.cast("long").alias("n_link_tags"),
        F.round(tag_density, 6).alias("tag_density"),
        F.round(link_ratio, 6).alias("link_char_ratio"),
        ((tag_density > tag_density_max)
         | (link_ratio > link_ratio_max)).alias("is_boilerplate"))


def doc_fingerprints(documents, window: int = 8, stride: int = 4,
                     k: int = 8):
    """Rolling-hash document fingerprint sketch (winnowing-style).

    md5 over every ``stride``-th ``window``-char slice of the normalized
    text; the sketch keeps the ``k`` lexicographically smallest distinct
    hashes (a deterministic min-sketch: near-identical docs share most
    sketch entries). Pure column algebra - the transform/sequence runs
    JVM-side, no Python in the hot path.

    Output: (doc_id, sketch csv, n_chars).
    """
    from pyspark.sql import functions as F
    s = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    d = documents.withColumn("_s", s)
    hashes = F.expr(
        f"array_distinct(transform("
        f"  sequence(1, greatest(length(_s) - {window - 1}, 1), {stride}),"
        f"  i -> md5(substring(_s, i, {window}))))")
    guarded = F.when(F.length("_s") >= window, hashes).otherwise(
        F.expr("array()").cast("array<string>"))
    return (d.select(
        "doc_id",
        F.array_join(F.slice(F.array_sort(guarded), 1, k), ",")
         .alias("sketch"),
        F.length("_s").alias("n_chars")))


# ------------------------------------------------- PII scrubbing

# RE2-compatible patterns (identical semantics in Spark's Java regex and
# DuckDB's RE2, so the oracle recomputes counts and masked text exactly)
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d().-]{7,}\d"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Per-doc PII inventory + scrubbed text (training-data hygiene):
    counts of emails / IPv4s / +intl-phone spans and the md5 of the
    text with each span replaced by a typed mask token. Pure JVM
    column algebra (regexp_count / regexp_replace - no UDF); masking
    order email -> ip -> phone is fixed so the oracle's nesting
    reproduces the bytes."""
    t = F.col("text")
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>"),
        PII_PHONE, "<PHONE>")
    return documents.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4)).alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_PHONE)).alias("n_phones"),
        F.md5(masked).alias("scrubbed_md5"),
        (F.length(t) - F.length(masked)).alias("chars_removed"))


# --------------------------------------- repetition (Gopher filters)

def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (DeepMind Gopher paper, Rae et
    al. 2021, table A1): duplicate-LINE fraction and the fraction of
    characters inside the most frequent word 2-gram. One explode +
    two-level aggregation per signal; no UDFs, no windows over raw
    text."""
    lines = documents.select(
        "doc_id", F.length("text").alias("n_chars"),
        F.explode(F.filter(
            F.split(F.col("text"), "\n"),
            lambda x: F.trim(x) != "")).alias("line"))
    per_line = (lines.withColumn("lc", F.length("line"))
                .groupBy("doc_id", "n_chars", "line", "lc")
                .agg(F.count(F.lit(1)).alias("c")))
    line_stats = per_line.groupBy("doc_id", "n_chars").agg(
        (1.0 - F.count(F.lit(1)) / F.sum("c")).alias("dup_line_frac"),
        (F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("lc"))
               .otherwise(0)) / F.sum(F.col("c") * F.col("lc")))
        .alias("dup_line_char_frac"))

    words = documents.select(
        "doc_id", F.length("text").alias("n_chars"),
        F.split(F.trim(F.col("text")), r"\s+").alias("w"))
    grams = words.select(
        "doc_id", "n_chars",
        F.explode(F.expr(
            "transform(sequence(1, greatest(size(w) - 1, 1)),"
            " i -> concat(w[i-1], ' ', w[i]))")).alias("g"))
    gram_counts = (grams.where(F.length("g") > 1)
                   .groupBy("doc_id", "n_chars", "g")
                   .agg(F.count(F.lit(1)).alias("c")))
    top = gram_counts.groupBy("doc_id", "n_chars").agg(
        F.max_by(F.struct("c", "g"), F.struct("c", "g")).alias("t"))
    gram_stats = top.select(
        "doc_id",
        (F.col("t.c") * F.length("t.g")
         / F.greatest(F.col("n_chars"), F.lit(1)))
        .alias("top_2gram_char_frac"))

    return (line_stats.join(gram_stats, "doc_id", "left")
            .select("doc_id",
                    F.round("dup_line_frac", 6).alias("dup_line_frac"),
                    F.round("dup_line_char_frac", 6)
                     .alias("dup_line_char_frac"),
                    F.round("top_2gram_char_frac", 6)
                     .alias("top_2gram_char_frac")))


# ------------------------------------------- tokenization + corpus mix

# BPE-ish pretokenizer (GPT-2-style, RE2-safe subset: English
# contraction suffixes, letter runs, digit runs, punctuation runs -
# each optionally space-prefixed - and residual whitespace runs).
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+")


def bpe_token_stats(documents: DataFrame, col: str = "text") -> DataFrame:
    """Per-document token counting for training-data budgeting:
    whitespace tokens, BPE-ish pretokens (GPT-2-style regex above,
    expressible identically in Java regex and RE2 so a SQL oracle can
    recompute it), and chars-per-token - the standard corpus-size
    conversion factor.

    Pure scan-side column algebra: one projection, no shuffle, no UDF -
    at 100 TB this runs inside the parquet scan stage.
    """
    n_chars = F.length(F.col(col))
    n_ws = token_count(col)
    n_bpe = F.regexp_count(F.col(col), F.lit(BPE_TOKEN_PATTERN))
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_ws.cast("long").alias("n_ws_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.round(n_chars / F.greatest(n_bpe, F.lit(1)), 4)
         .alias("chars_per_token"))


def source_profile(documents: DataFrame) -> DataFrame:
    """Corpus-composition profile per source: the first question asked
    of any 100-TB training mix ("how much of each source, how long,
    which languages").  One hash aggregation on a low-cardinality key -
    map-side partial aggregation makes the shuffle a few rows per
    executor regardless of corpus size.
    """
    return (documents.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                  .alias("n_en_docs"),
                 F.min("doc_id").alias("first_doc_id")))


def sample_bucket(key_col="doc_id", buckets: int = 10000) -> Column:
    """Deterministic pseudo-uniform bucket in [0, buckets) from the
    md5 of the key's decimal string - reproducible across engines
    (DuckDB computes the identical value), stable across runs and
    cluster sizes, unlike ``rand()``. ``key_col`` names a top-level
    column (it is rendered as one quoted identifier)."""
    key = f"CAST({_ident(key_col)} AS STRING)"
    return F.expr(md5_int_sql(key, digits=8)) % F.lit(buckets)


def stratified_sample(documents: DataFrame,
                      rates: dict[str, float],
                      default_rate: float = 1.0,
                      stratum_col: str = "lang",
                      key_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified sampling - the training-mix resampler
    ("keep 25% of English, all of everything else").

    Membership is a pure function of the row key (md5-bucket <
    rate*10000), so the sample is reproducible run-to-run, is
    identical at any parallelism, and needs NO shuffle: the filter is
    a scan-side projection (plan-asserted Exchange-free in
    tests/test_plans.py).  Contrast df.sampleBy(), whose Bernoulli
    draw changes with partitioning and seed plumbing.

    100-TB notes: zero-shuffle filter; downstream consumers inherit
    the input partitioning.  Rates are threshold-compiled once on the
    driver (int(rate*10000)), never per-row Python.
    """
    bucket = sample_bucket(key_col)
    thr = F.lit(int(round(default_rate * 10000)))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == stratum,
                     F.lit(int(round(rate * 10000)))).otherwise(thr)
    return (documents
            .withColumn("bucket", bucket)
            .where(F.col("bucket") < thr)
            .select(key_col, stratum_col, "bucket"))


def url_host(col="url") -> Column:
    """Lowercased host (port stripped) from an absolute URL - pure
    regexp column algebra (Java regex == RE2 subset, oracle-safe)."""
    host = F.regexp_extract(F.col(col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    return F.lower(F.regexp_replace(host, r":\d+$", ""))


def domain_profile(pages: DataFrame, url_col: str = "url",
                   html_col: str = "html") -> DataFrame:
    """Per-domain corpus profile over the crawl table: docs, bytes and
    distinct paths per host + the host's TLD - the first cut for
    domain-level filtering/weighting of a web corpus.

    One hash aggregation on the host key.  count/sum are map-side
    partial; countDistinct(path) is Spark's two-phase partial-distinct
    aggregate, so a hot host (the crawl-skew case) contributes
    pre-deduplicated path sets per map task rather than raw rows.  At
    100 TB swap countDistinct for approx_count_distinct if exact path
    cardinality is not required.
    """
    host = url_host(url_col)
    path = F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    rows = pages.select(
        host.alias("host"), path.alias("path"),
        F.length(F.col(html_col)).alias("html_bytes"))
    return (rows.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("html_bytes").alias("total_bytes"),
                 F.round(F.avg("html_bytes"), 4).alias("avg_bytes"),
                 F.countDistinct("path").alias("n_distinct_paths"))
            .withColumn("tld", F.regexp_extract(F.col("host"),
                                                r"\.([a-z0-9-]+)$", 1)))


def tfidf_keywords(documents: DataFrame, k: int = 5,
                   col: str = "text") -> DataFrame:
    """Top-k TF-IDF keywords per document - the standard content
    descriptor for corpus browsing, topic clustering seeds, and
    domain-mix auditing of a training corpus.

    Plan shape (100-TB lens): one explode -> (doc, word) hash
    aggregation for tf, one (word) hash aggregation for df (both
    map-side partial), a join of tf against the df dimension, and one
    per-doc top-k window.  The df dimension has vocabulary cardinality
    (millions of rows, kilobytes per row) - far below the corpus
    size - and joins on the word key; hot words ('the') are exactly
    the ones with high df, but the join input is the (doc, word)
    TF table (already deduplicated per doc), so the per-key fan-out is
    bounded by n_docs, not token count, and AQE skew-join splits any
    residual hot partition.  idf uses the smoothed ln((N+1)/(df+1))
    so no word divides by zero.  Ties break on the word itself, so
    results are deterministic at any parallelism.
    """
    words = (documents
             .select("doc_id", F.explode(_word_tokens(col)).alias("word"))
             .where(F.col("word") != ""))
    # tf feeds two consumers (df dimension + the scored join):
    # materialize once (lazy) instead of re-running the explode+agg
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("tf")).localCheckpoint(eager=False)
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(
        F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (tf.join(df, "word")
              .crossJoin(F.broadcast(n_docs))
              .withColumn(
                  "score",
                  F.round(F.col("tf") * F.log(
                      (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6)))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word").asc())
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "word", F.col("tf").cast("long").alias("tf"),
                    "score", F.col("rank").cast("int").alias("rank")))


def unigram_surprisal(documents: DataFrame, col: str = "text") -> DataFrame:
    """Per-document average unigram surprisal (-ln p(w) under the
    corpus unigram distribution) - the CCNet-style perplexity proxy
    used to split a web corpus into quality buckets without a trained
    LM.  Low = repetitive/common text, high = rare-token soup; both
    tails get dropped or downweighted in training-data pipelines.

    Two aggregations and one join, all map-side partial: the exploded
    (doc, word) TF table joins the (word, count) unigram dimension
    (vocabulary-sized).  The corpus token total is one scalar row,
    broadcast.  Per-doc surprisal sums weigh tf against ln(count/total);
    rounding to 4 decimals absorbs float summation-order noise so the
    result is stable at any parallelism (and hash-comparable to the
    SQL twin).
    """
    words = (documents
             .select("doc_id", F.explode(_word_tokens(col)).alias("word"))
             .where(F.col("word") != ""))
    # tf feeds the vocabulary dimension AND the final join -
    # materialize once (lazy)
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("tf")).localCheckpoint(eager=False)
    counts = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    total = counts.select(F.sum("cnt").cast("double").alias("total"))
    return (tf.join(counts, "word")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("long").alias("n_tokens"),
                 F.round(
                     F.sum(F.col("tf")
                           * -F.log(F.col("cnt") / F.col("total")))
                     / F.sum("tf"), 4).alias("avg_surprisal")))


def quality_gate(documents: DataFrame, quantile: float = 0.7,
                 col: str = "text", approx: bool = False) -> DataFrame:
    """Exact-percentile quality gating: score every document with the
    composite quality prior and keep those at or above the corpus'
    q-th quantile - "keep the best 30%" as a reproducible operator.

    The threshold is ONE exact interpolated percentile (Spark
    ``percentile``; DuckDB ``quantile_cont`` - same linear
    interpolation), computed in a single aggregation and broadcast
    back as a scalar, so the gate costs one scan + one 1-row shuffle
    regardless of corpus size.  Exact aggregation state is bounded by
    score cardinality (6-decimal rounding); at 100 TB pass
    ``approx=True`` for ``percentile_approx`` (fixed-size sketch
    state, identical plan shape) when a ~1e-4 threshold error is
    acceptable.
    """
    pct = "percentile_approx" if approx else "percentile"
    scored = documents.select(
        "doc_id", F.round(quality_score(col), 6).alias("score"))
    thr = scored.agg(
        F.round(F.expr(f"{pct}(score, {quantile})"), 6)
         .alias("threshold"))
    return (scored.crossJoin(F.broadcast(thr))
            .select("doc_id", "score", "threshold",
                    (F.col("score") >= F.col("threshold")).alias("keep")))


def dsir_weights(documents: DataFrame, target_filter: Column,
                 buckets: int = 256, col: str = "text") -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-unigram distribution is,
    log w(x) = sum_tokens [ln p_target(bucket) - ln p_raw(bucket)].
    Documents with high weight are up-sampled to steer a 100-TB crawl
    toward a target domain without training a classifier.

    Features are md5-hashed word buckets (engine-portable: DuckDB
    computes the identical bucket), add-one smoothed.  Plan shape:
    one explode -> (doc, bucket) tf agg, two B-row bucket dimensions
    (B=256 - broadcast, kilobytes), one join, one per-doc agg.  The
    corpus shuffles only (doc, bucket) partial rows; the dimensions
    are constant-size regardless of corpus scale.
    """
    words = (documents
             .select("doc_id", target_filter.alias("is_target"),
                     F.explode(_word_tokens(col)).alias("word"))
             .where(F.col("word") != ""))
    b = F.expr(md5_int_sql("`word`", digits=8)) % F.lit(buckets)
    tf = (words.select("doc_id", "is_target", b.alias("bucket"))
          .groupBy("doc_id", "is_target", "bucket")
          .agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint(eager=False))  # feeds dims + final join
    bucket_counts = (tf.groupBy("bucket")
                     .agg(F.sum("tf").alias("raw_cnt"),
                          F.sum(F.when(F.col("is_target"), F.col("tf"))
                                .otherwise(0)).alias("tgt_cnt")))
    totals = bucket_counts.agg(
        F.sum("raw_cnt").cast("double").alias("raw_total"),
        F.sum("tgt_cnt").cast("double").alias("tgt_total"))
    dim = bucket_counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (F.log((F.col("tgt_cnt") + 1.0)
               / (F.col("tgt_total") + F.lit(float(buckets))))
         - F.log((F.col("raw_cnt") + 1.0)
                 / (F.col("raw_total") + F.lit(float(buckets)))))
        .alias("log_ratio"))
    return (tf.join(F.broadcast(dim), "bucket")
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("long").alias("n_tokens"),
                 F.round(F.sum(F.col("tf") * F.col("log_ratio")), 4)
                  .alias("log_weight")))


def vocab_zipf_profile(documents: DataFrame, k: int = 50,
                       col: str = "text") -> DataFrame:
    """Corpus vocabulary head: the k most frequent words with rank and
    corpus share - the Zipf sanity check run on every new ingest (a
    head dominated by markup tokens or one language flags a broken
    upstream filter).

    One explode -> word hash agg (map-side partial) followed by a
    TakeOrdered(k) - the global sort never materializes, Spark keeps
    per-partition top-k heaps and merges k rows on the driver side of
    the exchange.  Ties break on the word itself for determinism.
    """
    words = (documents
             .select(F.explode(_word_tokens(col)).alias("word"))
             .where(F.col("word") != ""))
    counts = (words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
              .localCheckpoint(eager=False))  # feeds total + top-k
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    top = (counts.orderBy(F.col("cnt").desc(), F.col("word").asc())
           .limit(k))
    w = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    return (top.crossJoin(F.broadcast(total))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .select("rank", "word", F.col("cnt").cast("long").alias("cnt"),
                    F.round(F.col("cnt") / F.col("total"), 6)
                     .alias("share")))


def sequence_pack(documents: DataFrame, budget: int = 2048,
                  subshards: int = 16, shard_col: str = "source",
                  col: str = "text") -> DataFrame:
    """GPT-style sequence-packing manifest: concatenate each shard's
    documents (doc_id order, one EOS token between docs) and chunk the
    stream into fixed ``budget``-token training sequences.  The output
    maps every document to its byte-free token span: start offset in
    the shard stream plus the first/last sequence index it lands in -
    exactly what a downstream tokenizer-writer needs to emit packed
    training shards without re-scanning text.

    Token counts are BPE-ish pretokens (same Java/RE2-portable regex
    as bpe_token_stats) + 1 EOS.  Shards are (shard_col, md5-subshard
    of doc_id): the running-sum window partitions on that pair, so the
    per-task sort is bounded by the subshard size - at 100 TB you raise
    ``subshards`` and every window task stays memory-sized while the
    packing remains deterministic (md5 bucketing is engine-portable
    and parallelism-independent, unlike monotonically_increasing_id).
    One window over one shuffle; no UDF, no driver state.
    """
    n_tok = (F.regexp_count(F.col(col), F.lit(BPE_TOKEN_PATTERN))
             + F.lit(1)).cast("long")
    t = documents.select(
        "doc_id", F.col(shard_col).alias("shard"),
        sample_bucket("doc_id", subshards).alias("subshard"),
        n_tok.alias("n_tokens"))
    w = (Window.partitionBy("shard", "subshard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    end_off = F.sum("n_tokens").over(w)
    return (t.withColumn("end_off", end_off)
            .select("doc_id", "shard", "subshard", "n_tokens",
                    (F.col("end_off") - F.col("n_tokens"))
                    .alias("start_off"),
                    F.floor((F.col("end_off") - F.col("n_tokens"))
                            / F.lit(budget)).alias("first_seq"),
                    F.floor((F.col("end_off") - 1) / F.lit(budget))
                    .alias("last_seq")))


def perplexity_buckets(documents: DataFrame, col: str = "text",
                       approx: bool = False) -> DataFrame:
    """CCNet-style head/middle/tail corpus split: rank every document
    by its unigram surprisal (perplexity proxy) and bucket at the
    corpus terciles - 'head' is the most-fluent third that pretraining
    mixes keep at full weight, 'tail' the rare-token soup that gets
    downsampled or dropped.

    Built on unigram_surprisal (two hash aggs + vocabulary join); the
    tercile thresholds are ONE interpolated-percentile row broadcast
    back, so the corpus never reshuffles to be bucketed.  Thresholds
    and scores are rounded to the same 4 decimals, making the bucket
    edges engine-portable (Spark percentile == DuckDB quantile_cont).
    ``approx=True`` swaps in ``percentile_approx`` (bounded sketch
    state for 100-TB corpora, same single-agg plan shape).
    """
    pct = "percentile_approx" if approx else "percentile"
    # scored feeds the threshold agg AND the final select - materialize
    # the unigram_surprisal result once (lazy)
    scored = unigram_surprisal(documents, col).localCheckpoint(eager=False)
    thr = scored.agg(
        F.round(F.expr(f"{pct}(avg_surprisal, 1.0D/3.0D)"), 4)
         .alias("t1"),
        F.round(F.expr(f"{pct}(avg_surprisal, 2.0D/3.0D)"), 4)
         .alias("t2"))
    return (scored.crossJoin(F.broadcast(thr))
            .select("doc_id", "n_tokens", "avg_surprisal", "t1", "t2",
                    F.when(F.col("avg_surprisal") <= F.col("t1"),
                           "head")
                     .when(F.col("avg_surprisal") <= F.col("t2"),
                           "middle")
                     .otherwise("tail").alias("bucket")))


def source_vocab_overlap(documents: DataFrame, min_count: int = 2,
                         group_col: str = "source",
                         col: str = "text") -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources: for every
    (source_a, source_b) pair, the Jaccard similarity of their
    vocabularies (words seen >= ``min_count`` times in the source).
    The corpus-mix diagnostic run before blending crawl snapshots -
    two sources sharing ~all their vocabulary are near-mirrors and a
    candidate for source-level dedup, while a near-zero overlap flags
    a language/domain outlier in the mix.

    Plan shape: one explode -> (source, word) hash agg (map-side
    partial collapses repeats), a df-filtered vocabulary self-join on
    the word key, and one pair agg.  The self-join fan-out per word is
    bounded by S^2 where S = number of sources - a dimension-table
    cardinality (tens..hundreds), NOT data volume, so the join output
    is O(V * S^2) worst case and in practice far smaller; per-source
    vocab V grows sublinearly with corpus size (Heaps' law).  The
    S-row size table joins back by broadcast.  No cartesian, no UDF.
    """
    words = (documents
             .select(F.col(group_col).alias("src"),
                     F.explode(_word_tokens(col)).alias("word"))
             .where(F.col("word") != ""))
    vocab = (words.groupBy("src", "word")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .where(F.col("cnt") >= min_count)
             .select("src", "word")
             .localCheckpoint(eager=False))  # sizes + both join sides
    sizes = vocab.groupBy("src").agg(F.count(F.lit(1)).alias("vocab"))
    inter = (vocab.alias("a")
             .join(vocab.alias("b"), "word")
             .where(F.col("a.src") < F.col("b.src"))
             .groupBy(F.col("a.src").alias("src_a"),
                      F.col("b.src").alias("src_b"))
             .agg(F.count(F.lit(1)).alias("common")))
    sa = sizes.select(F.col("src").alias("src_a"),
                      F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("src").alias("src_b"),
                      F.col("vocab").alias("vocab_b"))
    union_sz = F.col("vocab_a") + F.col("vocab_b") - F.col("common")
    return (inter.join(F.broadcast(sa), "src_a")
            .join(F.broadcast(sb), "src_b")
            .select("src_a", "src_b",
                    F.col("vocab_a").cast("long").alias("vocab_a"),
                    F.col("vocab_b").cast("long").alias("vocab_b"),
                    F.col("common").cast("long").alias("common"),
                    F.round(F.col("common") / union_sz, 6)
                     .alias("jaccard")))


def bm25_topk(documents: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              col: str = "text") -> DataFrame:
    """Okapi BM25 top-k retrieval: for each query (``query_id``,
    ``term`` rows - terms already tokenized/lowercased) return the k
    best-scoring documents. The ranking primitive of every
    corpus-curation "find documents like these benchmark topics" pass,
    and the classic lexical-retrieval baseline next to the embedding
    kNN operators in similarity.py.

    Formula (Lucene/Robertson variant, non-negative idf):
      idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
      s(d, t) = idf * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

    Plan (100-TB lens): one explode -> (doc, word) TF hash agg (the
    corpus' only heavy shuffle, map-side combinable), doc lengths as a
    by-product agg of the same TF table, df restricted to QUERY TERMS
    ONLY (query terms broadcast into the TF scan - the df/idf
    dimension is query-vocabulary-sized, never corpus-vocabulary), one
    scalar avgdl broadcast back, and a per-query top-k window over the
    scored (query, doc) pairs - WindowGroupLimit pushes the rank<=k
    filter map-side. Scores round to 6 decimals (absorbs float
    summation order; Spark ln == DuckDB ln to well under that).
    """
    terms = queries.select("query_id", F.lower(F.col("term"))
                           .alias("word")).distinct()
    words = (documents
             .select("doc_id", F.explode(_word_tokens(col)).alias("word"))
             .where(F.col("word") != ""))
    # tf feeds dl, qtf, and through them stats/df/scored -
    # materialize once (lazy; the 100-TB analog is the persisted TF
    # intermediate table between retrieval stages)
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("tf")).localCheckpoint(eager=False)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    qtf = tf.join(F.broadcast(terms), "word")
    df_ = qtf.groupBy("query_id", "word").agg(
        F.countDistinct("doc_id").alias("df"))
    scored = (qtf
              .join(F.broadcast(df_), ["query_id", "word"])
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .select(
                  "query_id", "doc_id",
                  (F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5))
                   * F.col("tf") * (k1 + 1.0)
                   / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                          / F.col("avgdl"))))
                  .alias("s")))
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("s"), 6).alias("score"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (agg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank"))


def pmi_pairs(documents: DataFrame, window: int = 5,
              min_pair: int = 3, col: str = "text") -> DataFrame:
    """Pointwise mutual information over co-occurring word pairs
    within a ``window``-token window: the corpus-level collocation
    profile (multi-word expressions, domain jargon) used to diagnose
    and compare crawl slices; PMI = ln(n_obs * c12 / (c1 * c2)) where
    c1/c2 count the words' appearances in observed pairs.

    Plan shape: posexplode -> positions table; the co-occurrence join
    is an equi-join on doc_id with a BOUNDED band predicate
    (0 < pos_b - pos_a <= window), so each token joins at most
    ``window`` partners - the output is O(tokens * window), never
    quadratic. Pair/word counts are two hash aggs off the same pair
    table; ``min_pair`` prunes the noise tail before the join-back.
    Ordered pairs (w1 < w2 lexicographically) keep the pair key
    deterministic.
    """
    toks = (documents
            .select("doc_id", F.posexplode(_word_tokens(col))
                    .alias("pos", "word"))
            .where(F.col("word") != ""))
    a = toks.select("doc_id", F.col("pos").alias("pa"),
                    F.col("word").alias("wa"))
    bt = toks.select("doc_id", F.col("pos").alias("pb"),
                     F.col("word").alias("wb"))
    pairs = (a.join(bt, "doc_id")
             .where((F.col("pb") > F.col("pa"))
                    & (F.col("pb") - F.col("pa") <= window)
                    & (F.col("wa") != F.col("wb")))
             .select(F.least("wa", "wb").alias("w1"),
                     F.greatest("wa", "wb").alias("w2")))
    c12 = (pairs.groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).alias("c12"))
           .where(F.col("c12") >= min_pair))
    c1 = (pairs.select(F.col("w1").alias("w")).unionAll(
          pairs.select(F.col("w2").alias("w")))
          .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n_obs = pairs.agg(F.count(F.lit(1)).cast("double").alias("n_obs"))
    return (c12
            .join(c1.select(F.col("w").alias("w1"),
                            F.col("c").alias("c1")), "w1")
            .join(c1.select(F.col("w").alias("w2"),
                            F.col("c").alias("c2")), "w2")
            .crossJoin(F.broadcast(n_obs))
            .select("w1", "w2", "c12",
                    F.round(F.log(F.col("n_obs") * F.col("c12")
                                  / (F.col("c1") * F.col("c2"))), 6)
                    .alias("pmi")))


def train_split(documents: DataFrame, val_frac: float = 0.05,
                test_frac: float = 0.05, seed: int = 42,
                id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment: split membership is a
    pure function of ``(seed, doc_id)`` - md5-60bit bucket in [0,
    10000) against integer thresholds - so it is reproducible on any
    engine, stable under corpus growth (a document never changes
    split when new data arrives), and leak-free by construction
    (duplicate ids land in the same split; run content dedup /
    split_leakage first for near-dup leakage).

    One scan-side projection, no shuffle - the 100-TB split is a WHERE
    clause on the bucket expression, pushed into the scan. ``id_col``
    names a top-level column (it is rendered as one quoted identifier).
    """
    t_test = int(round(test_frac * 10000))
    t_val = t_test + int(round(val_frac * 10000))
    bucket = F.expr(md5_int_sql(f"CAST({_ident(id_col)} AS STRING)",
                                f"split:{seed}:")) % 10000
    return documents.select(
        F.col(id_col), "source", bucket.alias("bucket"),
        F.when(bucket < t_test, "test")
         .when(bucket < t_val, "val")
         .otherwise("train").alias("split"))


def bigram_surprisal(documents: DataFrame, k: float = 0.5,
                     col: str = "text") -> DataFrame:
    """Per-document average bigram surprisal -ln p(w2|w1) under the
    corpus bigram distribution with add-k smoothing - the deterministic
    analog of CCNet's n-gram-LM perplexity scoring, one order above
    :func:`unigram_surprisal` (repetitive template prose scores low,
    incoherent word soup scores high even when its unigrams are
    common).

    p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k*V), V = unigram vocabulary.

    Plan shape: one explode -> per-doc bigram TF hash agg (map-side
    combinable), corpus bigram and unigram dimensions off the same
    stream, the V scalar broadcast; the corpus shuffles only (doc,
    bigram) partial rows. Rounding to 4 decimals absorbs summation
    order (Spark ln == DuckDB ln well under that).
    """
    words = documents.select(
        "doc_id", _word_tokens(col).alias("ws"))
    bigrams = (words
               .select("doc_id", F.explode(F.expr(
                   "filter(zip_with(ws, slice(ws, 2, size(ws)), "
                   "(a, b) -> named_struct('w1', a, 'w2', b)), "
                   "p -> p.w1 <> '' AND p.w2 <> '')")).alias("bg"))
               .select("doc_id", "bg.w1", "bg.w2"))
    # tf feeds the bigram dimension chain AND the final join -
    # materialize once (lazy)
    tf = bigrams.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("tf")).localCheckpoint(eager=False)
    c12 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (documents
             .select(F.explode(_word_tokens(col)).alias("w"))
             .where(F.col("w") != "")
             .agg(F.countDistinct("w").cast("double").alias("v")))
    return (tf.join(c12, ["w1", "w2"])
            .join(c1, "w1")
            .crossJoin(F.broadcast(vocab))
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                 F.round(
                     F.sum(F.col("tf")
                           * -F.log((F.col("c12") + k)
                                    / (F.col("c1") + k * F.col("v"))))
                     / F.sum("tf"), 4).alias("avg_bigram_surprisal")))


_VOWEL_GROUP_RE = r"[aeiouy]+"


def readability(documents: DataFrame, col: str = "text") -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per document, with
    a deterministic vowel-group syllable heuristic (each maximal
    [aeiouy]+ run in a lowercased word = one syllable, minimum one per
    word; silent-e refinements are tokenizer lore, not needed for a
    corpus-level quality feature). Sentences = runs split on [.!?]+
    with non-empty content.

    One scan-side projection + nothing else: every count is regexp
    algebra inside whole-stage codegen, so at 100 TB the score is free
    with the scan (like gopher_quality / pii_scrub).
    """
    words = _word_tokens(col)
    n_words = F.size(F.filter(words, lambda w: w != ""))
    # syllables: total vowel-group count + one per vowel-less word
    lowered = F.lower(F.col(col))
    n_vowel_groups = F.length(F.regexp_replace(F.regexp_replace(
        lowered, _VOWEL_GROUP_RE, "\x01"), r"[^\x01]", "")).cast("long")
    vowelless = F.size(F.filter(
        words, lambda w: (w != "") & ~w.rlike("[aeiouy]")))
    n_syllables = n_vowel_groups + vowelless
    n_sentences = F.size(F.filter(
        F.split(F.col(col), r"[.!?]+"),
        lambda s: F.trim(s) != ""))
    wps = n_words / F.greatest(n_sentences, F.lit(1))
    spw = n_syllables / F.greatest(n_words, F.lit(1))
    ease = F.lit(206.835) - 1.015 * wps - 84.6 * spw
    grade = 0.39 * wps + 11.8 * spw - F.lit(15.59)
    return documents.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syllables.alias("n_syllables"),
        F.round(ease, 4).alias("flesch_ease"),
        F.round(grade, 4).alias("fk_grade"))


def bpe_train(documents: DataFrame, n_merges: int = 50,
              min_count: int = 1, top_v: int = 100_000,
              col: str = "text"):
    """Learn byte-pair-encoding merges from the corpus (Sennrich et
    al. 2016) - the REAL learned tokenizer behind token budgeting, not
    a regex proxy.

    Architecture is the standard trainer shape: Spark aggregates the
    WORD-FREQUENCY dictionary in one pass (vocabulary grows
    sublinearly - Heaps' law - and is capped by ``min_count`` /
    ``top_v``, so it is driver state by construction, like the IVF
    codebook); the merge loop then runs driver-side over that dict -
    each merge is O(vocab), never a corpus pass. Deterministic: ties
    on pair count break lexicographically.

    Returns (merges, word_tokens): the ordered merge list and a
    word -> token-count dict covering the training vocabulary (the
    broadcast dimension :func:`bpe_token_counts` joins against).
    """
    freq_rows = (documents
                 .select(F.explode(_word_tokens(col)).alias("w"))
                 .where(F.col("w") != "")
                 .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
                 .where(F.col("c") >= min_count)
                 .orderBy(F.desc("c"), "w")
                 .limit(top_v)
                 .collect())
    vocab = {r["w"]: r["c"] for r in freq_rows}
    return _bpe_merge_loop(vocab, n_merges)


def _bpe_merge_loop(vocab: dict, n_merges: int):
    """The driver-side merge loop over a word-frequency dict - shared
    by the Spark trainer and the oracle builder (which derives the
    identical dict via DuckDB, keeping the gate independent of the
    Spark aggregation path). Deterministic: highest pair count, ties
    -> lexicographically smallest pair."""
    words = {w: tuple(w) + ("</w>",) for w in vocab}
    merges = []
    for _ in range(n_merges):
        pair_counts: dict = {}
        for w, syms in words.items():
            c = vocab[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        top = max(pair_counts.values())
        best = min(p for p, c in pair_counts.items() if c == top)
        merges.append(best)
        a, b = best
        merged = a + b
        new_words = {}
        for w, syms in words.items():
            out = []
            i = 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[w] = tuple(out)
        words = new_words
    word_tokens = {w: len(syms) for w, syms in words.items()}
    return merges, word_tokens


def bpe_token_counts(documents: DataFrame, word_tokens: dict,
                     col: str = "text") -> DataFrame:
    """Per-document BPE token counts under a trained vocabulary:
    explode words, broadcast-join the word -> token-count dimension
    (vocabulary-sized, never corpus-sized), sum per doc. A word
    outside the training vocabulary falls back to its character count
    + 1 (every symbol unmerged - the exact worst case).

    Output: (doc_id, n_words, n_bpe_tokens).
    """
    spark = documents.sparkSession
    dim = spark.createDataFrame(
        [(w, int(n)) for w, n in sorted(word_tokens.items())],
        "w string, n_tok int")
    words = (documents
             .select("doc_id", F.explode(_word_tokens(col)).alias("w"))
             .where(F.col("w") != ""))
    return (words.join(F.broadcast(dim), "w", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.coalesce(F.col("n_tok"),
                                  F.length("w") + 1))
                 .cast("long").alias("n_bpe_tokens")))
