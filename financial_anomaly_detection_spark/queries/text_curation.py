"""Text analysis, quality gates, tokenization, curation pipelines, LLM-data ops.

Split from the monolithic queries.py (round 10) — pure move, zero
behavior change; registration side effects run at import via
``queries/__init__.py``. 24 registered queries.
"""

from __future__ import annotations

from .common import *  # noqa: F401,F403


@register(
    "text_quality_stats",
    oracle=f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
               CAST(length(list_distinct({_DUCK_TOKENS})) AS BIGINT) AS n_distinct_tokens,
               {_CPT} AS chars_per_token
        FROM documents
        WHERE length(trim(text)) > 0
    """,
    description="Text quality scoring (§2.10): token counts, lexical "
    "diversity, chars-per-token — whitespace tokenizer, all JVM-side.",
    tags=["text", "quality"],
)
def q_text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.filter(F.length(F.trim("text")) > 0).select(
        F.col("doc_id").cast("long"),
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        sround(F.length("text") * F.lit(1.0) / F.size(toks), 4).alias("chars_per_token"),
    )


@register(
    "lang_token_stats",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               {sround_sql("CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)", 4)} AS avg_chars,
               {_AVG_TOKENS} AS avg_tokens
        FROM documents
        GROUP BY lang
    """,
    description="Language distribution + token counting rollup (§2.10): the "
    "corpus-statistics pass of a training-data pipeline.",
    tags=["text", "aggregate"],
)
def q_lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        sround(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4).alias("avg_chars"),
        sround(F.sum(F.size(toks)).cast("double") / F.count(F.lit(1)), 4).alias("avg_tokens"),
    )


@register(
    "chunk_text_windows",
    oracle=r"""
        WITH base AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        ), w AS (
            SELECT doc_id, toks,
                   GREATEST(CAST(ceil((length(toks) - 8) / 56.0) AS BIGINT), 1) AS n_chunks
            FROM base
        ), ex AS (
            SELECT doc_id, unnest(list_transform(generate_series(0, n_chunks - 1),
                i -> {'chunk_idx': i,
                      'chunk_text': array_to_string(list_slice(toks, i*56 + 1, i*56 + 64), ' '),
                      'n': LEAST(length(toks) - i*56, 64)})) AS c
            FROM w
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
               c.chunk_text,
               CAST(c.n AS BIGINT) AS n_chunk_tokens
        FROM ex
    """,
    description="Overlapping token-window chunking (§2.10 pipeline staple: "
    "document -> training-example explosion): 64-token windows, 8-token "
    "overlap, tokenize-once + slice + explode, all JVM-side.",
    tags=["text", "chunking", "explode"],
)
def q_chunk_text_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import chunk_text

    docs = load_table(spark, sf_dir, "documents")
    return chunk_text(docs, "doc_id", "text", chunk_tokens=64, overlap=8)


@register(
    "pii_scrub_documents",
    # DuckDB regexp_replace needs the 'g' flag for all-occurrence
    # replacement (Spark's replaces all by default).
    oracle=r"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(length(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_email_redacted,
               CAST(length(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
                   AS n_url_redacted,
               regexp_replace(regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    'https?://[^\s]+', '<URL>', 'g') AS text_scrubbed
        FROM documents
    """,
    description="PII scrubbing (training-data pipeline stage): email/URL "
    "redaction with typed placeholders + per-kind counts, pure "
    "regexp_replace/regexp_count in codegen. (No phone pattern: the "
    "synthetic corpus contains none.)",
    tags=["text", "pii"],
)
def q_pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    email_pat = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url_pat = r"https?://[^\s]+"
    return docs.select(
        F.col("doc_id").cast("long"),
        F.regexp_count("text", F.lit(email_pat)).cast("long").alias("n_email_redacted"),
        F.regexp_count("text", F.lit(url_pat)).cast("long").alias("n_url_redacted"),
        F.regexp_replace(
            F.regexp_replace("text", email_pat, "<EMAIL>"), url_pat, "<URL>"
        ).alias("text_scrubbed"),
    )


@register(
    "text_quality_profile",
    oracle=rf"""
        WITH base AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS toks,
                   length(text) AS n_chars,
                   length({_DUCK_BPE}) AS n_bpe,
                   {_DUCK_PUNCT} AS n_punct
            FROM documents
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(length(toks) AS BIGINT) AS n_tokens,
               CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
               floor(LEAST(GREATEST(
                   LEAST(length(toks) / 20.0, 1.0)
                   * (1.0 - n_punct * 1.0 / GREATEST(n_chars, 1))
                   * (0.5 + 0.5 * length(list_distinct(toks)) * 1.0 / GREATEST(length(toks), 1))
               , 0.0), 1.0) * 1e6 + 0.5) / 1e6 AS quality
        FROM base
    """,
    description="Text quality scoring + BPE-ish token counting (§2.10): "
    "length/punctuation/lexical-diversity composite, all JVM-side "
    "expressions, oracle-checked.",
    tags=["text", "quality"],
)
def q_text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import bpe_ish_token_count, quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long"),
        token_count("text").cast("long").alias("n_tokens"),
        bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
        sround(quality_score("text"), 6).alias("quality"),
    )


@register(
    "text_lang_fingerprint",
    oracle=None,
    description="Language-ID heuristic (marker-word argmax) + winnowing "
    "min-hash document fingerprint (§2.10). Rows-only: fingerprints use "
    "engine-specific xxhash64.",
    tags=["text", "langid"],
)
def q_text_lang_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import text_profile

    docs = load_table(spark, sf_dir, "documents")
    return text_profile(docs, "doc_id", "text").select(
        "doc_id", "lang_guess", "fingerprint", "quality"
    )


@register(
    "source_mixing_stats",
    oracle=r"""
        WITH t AS (
            SELECT source,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok
            FROM documents
        ), s AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens
            FROM t GROUP BY source
        )
        SELECT source, n_docs, total_tokens,
               floor(CAST(total_tokens AS DOUBLE) / n_docs * 1000000.0 + 0.5)
                   / 1000000.0 AS avg_tokens,
               floor(CAST(total_tokens AS DOUBLE)
                     / SUM(CAST(total_tokens AS DOUBLE)) OVER ()
                     * 1000000.0 + 0.5) / 1000000.0 AS token_share
        FROM s
    """,
    description="Per-source corpus mixing statistics (doc count, token "
    "count, token share) — the inputs to training-mixture weighting. "
    "One agg shuffle on the low-cardinality source key; the global "
    "total is a window over the tiny aggregated result, not a second "
    "pass over the corpus.",
    tags=["text", "aggregate", "llm-pipeline"],
)
def q_source_mixing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
    )
    w_all = Window.partitionBy()
    return per_source.select(
        "source",
        "n_docs",
        "total_tokens",
        sround(F.col("total_tokens").cast("double") / F.col("n_docs"), 6).alias(
            "avg_tokens"
        ),
        sround(
            F.col("total_tokens").cast("double")
            / F.sum(F.col("total_tokens").cast("double")).over(w_all),
            6,
        ).alias("token_share"),
    )


@register(
    "doc_repetition_signals",
    oracle="""
        WITH w AS (
            SELECT doc_id, lang,
                   string_split_regex(trim(text), '\\s+') AS words
            FROM documents
        ), b AS (
            SELECT doc_id, lang, words,
                   list_transform(
                       list_zip(words[1:len(words) - 1], words[2:len(words)]),
                       t -> t[1] || ' ' || t[2]
                   ) AS bigrams
            FROM w
        )
        SELECT doc_id, lang,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
               floor(CAST(len(list_distinct(words)) AS DOUBLE)
                     / len(words) * 1000000.0 + 0.5) / 1000000.0
                   AS distinct_word_ratio,
               CASE WHEN len(bigrams) = 0 THEN 0.0
                    ELSE floor((1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                                / len(bigrams)) * 1000000.0 + 0.5) / 1000000.0
               END AS dup_bigram_fraction
        FROM b
    """,
    description="Gopher-style repetition signals (Rae et al. 2021 A1.1) "
    "computed entirely with array expressions — distinct-word ratio and "
    "duplicate-bigram fraction per document. Zero shuffles, zero UDFs: "
    "a pure codegen map over the documents scan, embarrassingly "
    "parallel at 100 TB.",
    tags=["text", "quality", "llm-pipeline"],
)
def q_doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    nb = F.size(bigrams)
    n_distinct = F.size(F.array_distinct(words))
    dup_bigram = F.when(nb == 0, F.lit(0.0)).otherwise(
        sround(F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / nb, 6)
    )
    return d.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_words"),
        n_distinct.cast("long").alias("n_distinct_words"),
        sround(n_distinct.cast("double") / n, 6).alias("distinct_word_ratio"),
        dup_bigram.alias("dup_bigram_fraction"),
    )


@register(
    "bigram_coverage_quality",
    # Count-based n-gram LM quality proxy (the integer-exact stand-in
    # for KenLM-perplexity filtering a la CCNet, Wenzek et al. 2020):
    # a document is "fluent" to the extent its bigram OCCURRENCES are
    # common in the corpus. All ratios are exact-integer divided once
    # at the end — no logs, so both engines hash-match. Corpus counts
    # aggregate BEFORE the gram-keyed join (one count row per distinct
    # bigram), and AQE's skew splitting covers hot grams at scale.
    oracle=r"""
        WITH w AS (
            SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
            FROM documents
        ), b AS (
            SELECT doc_id,
                   unnest(list_transform(
                       list_zip(words[1:len(words) - 1], words[2:len(words)]),
                       t -> t[1] || ' ' || t[2]
                   )) AS bg
            FROM w
        ), corpus AS (
            SELECT bg, COUNT(*) AS c FROM b GROUP BY bg
        )
        SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN corpus.c >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_common,
               floor(CAST(SUM(CASE WHEN corpus.c >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*) * 1e6 + 0.5) / 1e6 AS coverage
        FROM b JOIN corpus USING (bg)
        GROUP BY b.doc_id
        HAVING COUNT(*) >= 1
    """,
    description="Bigram-coverage quality score (count-based analog of "
    "CCNet's LM-perplexity gate, Wenzek et al. 2020): fraction of a "
    "document's bigram occurrences whose corpus-wide count is >= 3. "
    "One explode, one corpus count aggregation, one gram-keyed join — "
    "the decontamination query's shuffle shape, integer-exact "
    "throughout. Short docs (< 2 words) produce no bigrams and drop "
    "out on both engines.",
    tags=["text", "quality", "llm-pipeline"],
)
def q_bigram_coverage_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    b = d.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(bigrams).alias("bg")
    )
    corpus = b.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    joined = b.join(corpus, "bg")
    common = F.sum(F.when(F.col("c") >= 3, 1).otherwise(0)).cast("long")
    total = F.count(F.lit(1)).cast("long")
    return (
        joined.groupBy("doc_id")
        .agg(
            total.alias("n_bigrams"),
            common.alias("n_common"),
            sround(common.cast("double") / total, 6).alias("coverage"),
        )
    )


@register(
    "top_word_fraction",
    oracle="""
        WITH e AS (
            SELECT doc_id, u.w AS word
            FROM documents,
                 unnest(string_split_regex(trim(text), '\\s+')) AS u(w)
        ), c AS (
            SELECT doc_id, word, COUNT(*) AS cnt FROM e GROUP BY doc_id, word
        ), r AS (
            SELECT doc_id, word, cnt,
                   SUM(cnt) OVER (PARTITION BY doc_id) AS total,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY cnt DESC, word ASC
                   ) AS rn
            FROM c
        )
        SELECT doc_id, word AS top_word, CAST(cnt AS BIGINT) AS top_count,
               floor(CAST(cnt AS DOUBLE) / total * 1000000.0 + 0.5) / 1000000.0
                   AS top_word_fraction
        FROM r WHERE rn = 1
    """,
    description="Gopher-style top-word-fraction quality rule: most "
    "frequent token's share of each document (deterministic "
    "count-desc/word-asc tie-break). Explode -> per-(doc,word) count -> "
    "window top-1; the shuffle key is (doc_id, word) then doc_id, both "
    "high-cardinality and skew-free at scale.",
    tags=["text", "quality", "window", "llm-pipeline"],
)
def q_top_word_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    counts = e.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    wdoc = Window.partitionBy("doc_id")
    wrank = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("total", F.sum("cnt").over(wdoc))
        .withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_word"),
            F.col("cnt").cast("long").alias("top_count"),
            sround(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "top_word_fraction"
            ),
        )
    )


@register(
    "c4_quality_filters",
    # C4-style heuristic quality gate (Raffel et al. 2020 §2.2),
    # adapted to the synthetic corpus (no sentence punctuation): every
    # rule is integer-exact (counts and integer-scaled comparisons,
    # never float thresholds), so the keep/drop decision is
    # bit-deterministic across engines.
    oracle=r"""
        WITH w AS (
            SELECT doc_id, source,
                   string_split_regex(trim(text), '\s+') AS words,
                   length(replace(trim(text), ' ', '')) AS n_letters
            FROM documents
        ), f AS (
            SELECT doc_id, source,
                   CAST(len(words) AS BIGINT) AS n_words,
                   n_letters,
                   (list_contains(words, 'the') OR list_contains(words, 'a'))
                       AS has_stopword,
                   CAST(list_max(list_transform(
                       list_distinct(words),
                       u -> len(list_filter(words, x -> x = u))
                   )) AS BIGINT) AS top_word_count
            FROM w
        )
        SELECT doc_id, source, n_words, has_stopword, top_word_count,
               (n_words >= 20
                AND has_stopword
                AND top_word_count * 5 <= n_words
                AND n_letters * 1 >= n_words * 3
                AND n_letters * 1 <= n_words * 8) AS keep
        FROM f
    """,
    description="C4-style quality gate (Raffel et al. 2020 §2.2) as one "
    "codegen map over the scan: min length, stopword presence, "
    "top-word concentration <=20%, mean word length in [3,8] — all "
    "integer-scaled comparisons (top*5<=n, 3n<=letters<=8n), no float "
    "thresholds, so keep/drop is bit-deterministic. Zero shuffles; "
    "embarrassingly parallel at 100 TB.",
    tags=["text", "quality", "llm-pipeline"],
)
def q_c4_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words).cast("long")
    n_letters = F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
    has_stop = F.array_contains(words, "the") | F.array_contains(words, "a")
    top_count = F.array_max(
        F.transform(
            F.array_distinct(words),
            lambda u: F.size(F.filter(words, lambda x: x == u)),
        )
    ).cast("long")
    keep = (
        (n >= 20)
        & has_stop
        & (top_count * 5 <= n)
        & (n_letters >= n * 3)
        & (n_letters <= n * 8)
    )
    return d.select(
        "doc_id",
        "source",
        n.alias("n_words"),
        has_stop.alias("has_stopword"),
        top_count.alias("top_word_count"),
        keep.alias("keep"),
    )


@register(
    "tfidf_det_topk",
    # Oracle-backed TF-IDF (the rows-only tfidf_top_terms pinned at
    # the hash level, the lof_exact_quantized discipline): top-5 terms
    # per document on a bounded 300-doc slice, score = tf * (ln((N+1)/
    # (df+1)) + 1) — the smoothed-idf variant sklearn documents —
    # with the ln through the deterministic expression and scores
    # floored to exact nano integers before the per-doc rank.
    oracle=r"""
        WITH docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 300
        ), e AS (
            SELECT doc_id, u.w AS word
            FROM docs, unnest(string_split_regex(trim(text), '\s+')) AS u(w)
        ), c AS (
            SELECT doc_id, word, COUNT(*) AS c FROM e GROUP BY 1, 2
        ), len AS (
            SELECT doc_id, SUM(c) AS len FROM c GROUP BY 1
        ), df AS (
            SELECT word, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY 1
        ), nd AS (
            SELECT COUNT(*) AS nd FROM docs
        ), r AS (
            SELECT c.doc_id, c.word, c.c, len.len,
                   ((CAST(nd.nd AS DOUBLE) + 1e0)
                    / (CAST(df.df AS DOUBLE) + 1e0)) AS rid
            FROM c
            JOIN len USING (doc_id)
            JOIN df USING (word), nd
        ), scored AS (
            SELECT doc_id, word, c, {SCORE} AS score_nano FROM r
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id, word,
               CAST(c AS BIGINT) AS tf_count, score_nano,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY score_nano DESC, word ASC) AS BIGINT) AS rn
        FROM scored
        QUALIFY rn <= 5
    """.replace("{SCORE}", _TFIDF_SCORE_SQL),
    description="TF-IDF top-5 terms per doc on a bounded slice, "
    "hash-exact: smoothed idf via deterministic ln, integer nano "
    "scores, (score desc, word) rank. Anchors the rows-only "
    "tfidf_top_terms tier's math the way ann_exact_quantized anchors "
    "ANN. Shuffle keys (doc, word) then word then doc — all "
    "high-cardinality.",
    tags=["text", "llm-pipeline", "oracle-surrogate"],
)
def q_tfidf_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    e = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    c = e.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    ln = c.groupBy("doc_id").agg(F.sum("c").alias("len"))
    dfreq = e.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    r = (
        c.join(ln, "doc_id")
        .join(dfreq, "word")
        .join(F.broadcast(nd))
        .withColumn(
            "rid",
            F.expr(
                "((CAST(nd AS DOUBLE) + 1e0) / (CAST(df AS DOUBLE) + 1e0))"
            ),
        )
    )
    # Column twin of _TFIDF_SCORE_SQL (r12): compact det_ln tree
    scored = r.select(
        "doc_id", "word", "c",
        F.floor(
            (F.col("c").cast("double") / F.col("len").cast("double"))
            * (det_ln_col(F.col("rid")) + F.lit(1.0))
            * F.lit(1e9) + F.lit(0.5)
        ).cast("long").alias("score_nano"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_nano"), F.asc("word")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "word",
            F.col("c").cast("long").alias("tf_count"),
            "score_nano",
            "rn",
        )
    )


@register(
    "ngram_diversity_by_source",
    # Corpus diversity audit per source: type-token ratios at the
    # unigram and bigram level (the distinct-to-total n-gram ratio
    # that drops when a source is template-heavy or self-repetitive —
    # the corpus-level cousin of doc_repetition_signals). Integer
    # counts, one quantized division at the end.
    oracle=r"""
        WITH w AS (
            SELECT source, string_split_regex(trim(text), '\s+') AS words
            FROM documents
        ), uni AS (
            SELECT source, unnest(words) AS g FROM w
        ), bi AS (
            SELECT source,
                   unnest(list_transform(
                       list_zip(words[1:len(words) - 1], words[2:len(words)]),
                       t -> t[1] || ' ' || t[2]
                   )) AS g
            FROM w
        ), u AS (
            SELECT source, COUNT(*) AS n_uni, COUNT(DISTINCT g) AS d_uni
            FROM uni GROUP BY source
        ), b AS (
            SELECT source, COUNT(*) AS n_bi, COUNT(DISTINCT g) AS d_bi
            FROM bi GROUP BY source
        )
        SELECT u.source,
               CAST(u.n_uni AS BIGINT) AS n_unigrams,
               CAST(u.d_uni AS BIGINT) AS distinct_unigrams,
               CAST(b.n_bi AS BIGINT) AS n_bigrams,
               CAST(b.d_bi AS BIGINT) AS distinct_bigrams,
               CAST(1000000 * u.d_uni // u.n_uni AS BIGINT) AS uni_ttr_u,
               CAST(1000000 * b.d_bi // b.n_bi AS BIGINT) AS bi_ttr_u
        FROM u JOIN b USING (source)
    """,
    description="Per-source n-gram diversity (type-token ratio at "
    "unigram+bigram level): two explode + partial-agg pipelines over "
    "the source key, distinct counts shuffled per (source, gram). "
    "Quantized-integer ratios; at 100 TB COUNT(DISTINCT) lowers to the "
    "standard two-phase partial-distinct shuffle and the gram key is "
    "high-cardinality parallel.",
    tags=["text", "quality", "llm-pipeline"],
)
def q_ngram_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    uni = d.select("source", F.explode(words).alias("g"))
    bi = d.select("source", F.explode(bigrams).alias("g"))
    u = uni.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unigrams"),
        F.count_distinct("g").alias("distinct_unigrams"),
    )
    b = bi.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count_distinct("g").alias("distinct_bigrams"),
    )
    return u.join(b, "source").select(
        "source",
        F.col("n_unigrams").cast("long"),
        F.col("distinct_unigrams").cast("long"),
        F.col("n_bigrams").cast("long"),
        F.col("distinct_bigrams").cast("long"),
        F.expr("1000000 * distinct_unigrams div n_unigrams")
        .cast("long")
        .alias("uni_ttr_u"),
        F.expr("1000000 * distinct_bigrams div n_bigrams")
        .cast("long")
        .alias("bi_ttr_u"),
    )


@register(
    "markov_transition_matrix",
    # First-order Markov transition matrix over per-user event-type
    # sequences — the behavioral-sequence model a fraud system uses to
    # score "unusual next action" (and the LLM-pipeline's n-gram LM in
    # miniature). Transitions come from each user's time-ordered
    # stream via lag(); probabilities are integer-quantized row-wise
    # shares. Ties on identical timestamps are broken by event_id so
    # the sequence — and therefore the matrix — is deterministic.
    oracle="""
        WITH s AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), t AS (
            SELECT prev_type, event_type AS next_type, COUNT(*) AS n
            FROM s WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        ), r AS (
            SELECT prev_type, SUM(n) AS row_total FROM t GROUP BY prev_type
        )
        SELECT t.prev_type, t.next_type,
               CAST(t.n AS BIGINT) AS n,
               CAST(r.row_total AS BIGINT) AS row_total,
               CAST(1000000 * t.n // r.row_total AS BIGINT) AS p_u
        FROM t JOIN r USING (prev_type)
    """,
    description="First-order Markov transition matrix over per-user "
    "event sequences: one (user)-keyed sort shuffle for lag(), one "
    "partial agg to types^2 cells, integer-quantized row "
    "probabilities. High-cardinality parallel at 100 TB; the tiny "
    "matrix broadcasts back for next-action scoring.",
    tags=["sequence", "aggregate", "anomaly"],
)
def q_markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    r = t.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return t.join(r, "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("long"),
        F.col("row_total").cast("long"),
        F.expr("1000000 * n div row_total").cast("long").alias("p_u"),
    )


@register(
    "pmi_collocations",
    # Collocation extraction by pointwise mutual information (Church &
    # Hanks 1990): bigrams whose observed frequency most exceeds the
    # independence expectation. The log is monotone, so ranking by the
    # PMI *ratio* c_xy * N_uni^2 / (N_bi * c_x * c_y) avoids any
    # cross-engine log ulp issues entirely; the ratio is computed in
    # doubles with one fixed association order on bit-identical
    # integer inputs. Corpus scale shape: two token-keyed partial
    # aggs (unigrams, bigrams) + two equi-joins of the bigram table
    # against the unigram counts; top-k via TakeOrdered with a total
    # order (ratio desc, bigram) — no global window.
    oracle=r"""
        WITH toks AS (
            SELECT list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> regexp_matches(x, '^[a-z]+$')
                   ) AS t
            FROM documents
        ), uni AS (
            SELECT u.x AS tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks, unnest(t) AS u(x) GROUP BY 1
        ), bi AS (
            SELECT t[i] || ' ' || t[i+1] AS bigram,
                   t[i] AS x, t[i+1] AS y
            FROM toks, unnest(range(1, len(t))) AS r(i)
        ), bc AS (
            SELECT bigram, any_value(x) AS x, any_value(y) AS y,
                   CAST(COUNT(*) AS BIGINT) AS c_xy
            FROM bi GROUP BY bigram
        ), tot AS (
            SELECT CAST((SELECT SUM(c) FROM uni) AS BIGINT) AS nu,
                   CAST((SELECT SUM(c_xy) FROM bc) AS BIGINT) AS nb
        ), scored AS (
            SELECT bc.bigram, bc.c_xy, ux.c AS c_x, uy.c AS c_y,
                   ((CAST(bc.c_xy AS DOUBLE) * CAST(tot.nu AS DOUBLE))
                        * CAST(tot.nu AS DOUBLE))
                   / ((CAST(tot.nb AS DOUBLE) * CAST(ux.c AS DOUBLE))
                        * CAST(uy.c AS DOUBLE)) AS ratio
            FROM bc
            JOIN uni ux ON bc.x = ux.tok
            JOIN uni uy ON bc.y = uy.tok
            CROSS JOIN tot
            WHERE bc.c_xy >= 5
        )
        SELECT bigram, c_xy, c_x, c_y,
               floor(ratio * 1000000.0 + 0.5) / 1000000.0 AS pmi_ratio
        FROM scored
        ORDER BY ratio DESC, bigram
        LIMIT 100
    """,
    description="Top-100 collocations by PMI ratio (Church & Hanks "
    "1990): unigram + bigram partial aggs, two equi-joins, log-free "
    "monotone ranking in doubles over exact integer counts, TakeOrdered "
    "top-k with a deterministic total order.",
    tags=["text", "nlp", "llm-pipeline"],
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: x.rlike("^[a-z]+$"),
    )
    td = d.select(toks.alias("t")).localCheckpoint(eager=True)
    uni = td.select(F.explode("t").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # F.sequence(1, size-1) DESCENDS for <2-token docs (the round-4
    # short-doc lesson) — gate the whole expression on size >= 2
    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.struct(
                F.element_at("t", i).alias("x"),
                F.element_at("t", i + 1).alias("y"),
            ),
        ),
    )  # .when leaves <2-token docs NULL; explode() drops NULL arrays
    bi = td.select(F.explode(bigrams).alias("b")).select(
        F.col("b.x").alias("x"), F.col("b.y").alias("y")
    )
    bc = (
        bi.groupBy(F.concat_ws(" ", "x", "y").alias("bigram"))
        .agg(
            F.any_value("x").alias("x"),
            F.any_value("y").alias("y"),
            F.count(F.lit(1)).cast("long").alias("c_xy"),
        )
        .filter(F.col("c_xy") >= 5)
    )
    tot_u = uni.agg(F.sum("c").cast("long").alias("nu"))
    tot_b = bi.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    scored = (
        bc.join(ux, "x")
        .join(uy, "y")
        .join(F.broadcast(tot_u))
        .join(F.broadcast(tot_b))
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("c_xy").cast("double") * F.col("nu").cast("double"))
                * F.col("nu").cast("double")
                / (
                    (F.col("nb").cast("double") * F.col("c_x").cast("double"))
                    * F.col("c_y").cast("double")
                )
            ).alias("ratio"),
        )
    )
    return (
        scored.orderBy(F.col("ratio").desc(), "bigram")
        .limit(100)
        .select("bigram", "c_xy", "c_x", "c_y", sround(F.col("ratio"), 6).alias("pmi_ratio"))
    )


@register(
    "table_profile_events",
    # Column-level data-quality profile of the fact table — the EDA /
    # contract-check pass every ingest pipeline runs: per column, row
    # count, null count, exact distinct count, and typed min/max
    # normalized to engine-neutral integers (epoch micros for ts,
    # cents for value) or raw strings. One aggregate pass per column
    # branch, unioned; numeric min/max never go through double→string
    # formatting (engines disagree on that — the integer discipline
    # again).
    oracle="""
        SELECT 'event_id' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(event_id) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
               CAST(MIN(event_id) AS VARCHAR) AS min_val,
               CAST(MAX(event_id) AS VARCHAR) AS max_val
        FROM events
        UNION ALL
        SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(user_id) AS BIGINT),
               CAST(COUNT(DISTINCT user_id) AS BIGINT),
               CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
        FROM events
        UNION ALL
        SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(event_type) AS BIGINT),
               CAST(COUNT(DISTINCT event_type) AS BIGINT),
               MIN(event_type), MAX(event_type)
        FROM events
        UNION ALL
        SELECT 'ts_us', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(ts) AS BIGINT),
               CAST(COUNT(DISTINCT epoch_us(ts)) AS BIGINT),
               CAST(MIN(epoch_us(ts)) AS VARCHAR),
               CAST(MAX(epoch_us(ts)) AS VARCHAR)
        FROM events
        UNION ALL
        SELECT 'value_cents', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(value) AS BIGINT),
               CAST(COUNT(DISTINCT CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT),
               CAST(MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS VARCHAR),
               CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS VARCHAR)
        FROM events
        UNION ALL
        SELECT 'props', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(props) AS BIGINT),
               CAST(COUNT(DISTINCT props) AS BIGINT),
               MIN(props), MAX(props)
        FROM events
    """,
    description="Per-column profile of events (rows, nulls, exact "
    "distincts, typed min/max in engine-neutral units): the ingest "
    "contract check. Six aggregate branches over one cached scan; "
    "distinct counts are exact (the approximate tier is "
    "approx_distinct_users / hll_exact_md5).",
    tags=["profiling", "quality", "aggregate"],
)
def q_table_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").localCheckpoint(eager=True)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def prof(name: str, col: Column, distinct_col: Column, as_str) -> DataFrame:
        return ev.agg(
            F.lit(name).alias("col"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_null"),
            F.countDistinct(distinct_col).cast("long").alias("n_distinct"),
            as_str(F.min(distinct_col)).alias("min_val"),
            as_str(F.max(distinct_col)).alias("max_val"),
        )

    s = lambda c: c.cast("string")  # noqa: E731
    ident = lambda c: c  # noqa: E731
    return (
        prof("event_id", F.col("event_id"), F.col("event_id"), s)
        .unionByName(prof("user_id", F.col("user_id"), F.col("user_id"), s))
        .unionByName(prof("event_type", F.col("event_type"), F.col("event_type"), ident))
        .unionByName(prof("ts_us", F.col("ts"), F.unix_micros("ts"), s))
        .unionByName(prof("value_cents", F.col("value"), cents, s))
        .unionByName(prof("props", F.col("props"), F.col("props"), ident))
    )


@register(
    "trigram_event_sequences",
    # Sequential-pattern mining, length-3 (the order-aware extension of
    # markov_transition_matrix's pairs): per user, consecutive
    # event-type triples by event time, counted corpus-wide — the
    # "what do users do next" inventory behind funnel design. One
    # (user)-keyed sort shuffle; lead() twice inside the per-user
    # window; top-25 via TakeOrdered with a total order.
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS a,
                   LEAD(event_type, 1) OVER w AS b,
                   LEAD(event_type, 2) OVER w AS c
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT a || '>' || b || '>' || c AS trigram,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
        GROUP BY 1
        ORDER BY n DESC, trigram
        LIMIT 25
    """,
    description="Top-25 length-3 sequential event patterns per user "
    "timeline (lead x2 in the per-user window, corpus-wide counts, "
    "TakeOrdered with deterministic ties) — the order-aware extension "
    "of the Markov transition matrix.",
    tags=["sequence", "window", "analytics"],
)
def q_trigram_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    counts = seq.groupBy(
        F.concat_ws(">", "a", "b", "c").alias("trigram")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return counts.orderBy(F.col("n").desc(), "trigram").limit(25)


@register(
    "referential_integrity_audit",
    # Cross-table foreign-key audit — the ingest contract check every
    # warehouse load runs: for each declared child->parent key
    # relationship, the child row count, orphan count (child keys with
    # no parent), and orphan rate in exact integer permille. Each
    # branch is one anti-join where the parent KEY SET is broadcast
    # (parents are dimension-sized); nothing but counts crosses the
    # wire. Exact integers end to end.
    oracle="""
        SELECT 'orders.o_custkey->customer' AS relationship,
               CAST(COUNT(*) AS BIGINT) AS n_child,
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans,
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    * 1000 // COUNT(*) AS BIGINT) AS orphan_permille
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                    * 1000 // COUNT(*) AS BIGINT)
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
                    * 1000 // COUNT(*) AS BIGINT)
        FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        UNION ALL
        SELECT 'events.user_id->customer',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    * 1000 // COUNT(*) AS BIGINT)
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    description="Foreign-key integrity audit over four declared "
    "child->parent relationships: orphan counts and rates in exact "
    "integer permille, parent key sets broadcast, one count-only "
    "aggregate per branch.",
    tags=["quality", "join", "aggregate"],
)
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    ev = load_table(spark, sf_dir, "events")

    def branch(rel: str, child: DataFrame, ck: str, parent: DataFrame, pk: str):
        joined = child.select(F.col(ck).alias("_k")).join(
            F.broadcast(parent.select(F.col(pk).alias("_k"), F.lit(1).alias("_hit"))),
            "_k",
            "left",
        )
        return joined.agg(
            F.lit(rel).alias("relationship"),
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.sum(F.col("_hit").isNull().cast("long")).cast("long").alias("n_orphans"),
            F.expr(
                "CAST(SUM(CASE WHEN _hit IS NULL THEN 1 ELSE 0 END)"
                " * 1000 div COUNT(*) AS BIGINT)"
            ).alias("orphan_permille"),
        )

    return (
        branch("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey")
        .unionByName(
            branch("lineitem.l_partkey->part", lineitem, "l_partkey", part, "p_partkey")
        )
        .unionByName(
            branch(
                "lineitem.l_suppkey->supplier",
                lineitem,
                "l_suppkey",
                supplier,
                "s_suppkey",
            )
        )
        .unionByName(
            branch("events.user_id->customer", ev, "user_id", customer, "c_custkey")
        )
    )


@register(
    "bpe_train_merges",
    # Rows-only: the merge loop's argmax-per-round is iterative (like
    # BFS) and not single-statement SQL; correctness is pinned
    # merge-for-merge against a textbook Python BPE implementation in
    # tests/test_extensions.py instead.
    oracle=None,
    description="BPE tokenizer merge training (Sennrich 2016) as "
    "relational plans: corpus -> word-type frequency table (the only "
    "raw-text pass), then per round a pair-count partial agg, an "
    "1-row argmax (its values ride into the rewrite as literals via "
    "the loop's gate peek), and a greedy left-to-right "
    "F.aggregate rewrite of the symbol arrays — no driver-side "
    "values, bounded lineage via per-round checkpoints. The "
    "tokenizer-training member of the LLM-pipeline family.",
    tags=["text", "tokenizer", "llm-pipeline"],
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import bpe_train_merges

    return bpe_train_merges(
        load_table(spark, sf_dir, "documents"), "text", n_merges=10
    )


# Fixed injected word-type table for the BPE hash surrogate: the
# Sennrich 2016 worked example (low/lower/newest/widest) plus three
# adversarial types — banana (competing overlapping pairs an/na), aaa
# (adjacent IDENTICAL pair, where greedy non-overlap must count 2 per
# word and merge only the first), abab (alternating pair, where ONE
# round must merge BOTH occurrences). Round 1 is a 3-way tie at
# pair_freq 9 ((e,s)/(s,t)/(t,</w>)) resolved by the lexicographic
# tiebreak — the argmax ordering gets driver-hash evidence too.
_BPE_EXACT_WORDS = [
    ("low", 5),
    ("lower", 2),
    ("newest", 6),
    ("widest", 3),
    ("banana", 2),
    ("aaa", 4),
    ("abab", 3),
]
_BPE_EXACT_MERGES = 8


def _bpe_oracle_chain(words: list[tuple[str, int]], n_merges: int) -> str:
    """Shared WITH-clause of the BPE DuckDB twins: the greedy merge
    loop of ``_bpe_train_from_words`` UNROLLED as a CTE chain (p_k pair
    counts -> b_k argmax -> v_k rewrite), one block per round, on an
    injected constant word table.

    Each word's segmentation is a string of ``|``-wrapped symbols
    (``|l||o||w||</w>|``): symbol boundaries are explicit, so plain SQL
    ``replace(s, '|a||b|', '|ab|')`` — left-to-right, non-overlapping,
    no rescan of replaced text — is EXACTLY the trainer's greedy
    ``F.aggregate`` fold (a merged symbol cannot re-trigger as the
    pair's left within its round in either engine, and two adjacent
    disjoint occurrences share no characters so both rewrite)."""
    wrap = lambda w: "".join(f"|{s}|" for s in list(w) + ["</w>"])  # noqa: E731
    values = ", ".join(f"('{w}', '{wrap(w)}', {f})" for w, f in words)
    sql = [f"WITH v0(word, s, freq) AS (SELECT * FROM (VALUES {values}))"]
    for k in range(1, n_merges + 1):
        sql.append(
            f""",
 p{k} AS (
   SELECT pr.a AS a, pr.b AS b, SUM(freq) AS pair_freq
   FROM (
     SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                   i -> struct_pack(a := l[i], b := l[i + 1]))) AS pr,
            freq
     FROM (SELECT str_split(trim(s, '|'), '||') AS l, freq FROM v{k - 1})
     WHERE len(l) >= 2
   ) GROUP BY 1, 2
 ),
 b{k} AS (
   SELECT {k} AS rank, a, b, a || b AS merged, pair_freq
   FROM p{k} ORDER BY pair_freq DESC, a, b LIMIT 1
 ),
 v{k} AS (
   SELECT word,
          replace(s, '|' || a || '||' || b || '|', '|' || merged || '|') AS s,
          freq
   FROM v{k - 1} CROSS JOIN b{k}
 )"""
        )
    return "".join(sql)


def _bpe_exact_oracle(words: list[tuple[str, int]], n_merges: int) -> str:
    """Merge-table tail over the shared chain: the ranked merge rows."""
    unions = " UNION ALL ".join(
        f"SELECT * FROM b{k}" for k in range(1, n_merges + 1)
    )
    return (
        _bpe_oracle_chain(words, n_merges)
        + f"""
 SELECT CAST(rank AS INTEGER) AS rank, a AS "left", b AS "right",
        merged, CAST(pair_freq AS BIGINT) AS pair_freq
 FROM ({unions})"""
    )


def _bpe_apply_oracle(
    words: list[tuple[str, int]],
    n_merges: int,
    docs: list[tuple[int, str]],
) -> str:
    """Serving-join tail over the shared chain: tokenize fixed docs
    against the FINAL segmentation (v{n_merges}) — the DuckDB twin of
    ``_bpe_token_counts_from_vocab`` (same lowercase/alpha/length-20
    word gate, same inner join dropping out-of-vocabulary words, same
    per-document count/sum)."""
    dvals = ", ".join(f"({i}, '{t}')" for i, t in docs)
    return (
        _bpe_oracle_chain(words, n_merges)
        + f""",
 seg AS (
   SELECT word, len(str_split(trim(s, '|'), '||')) AS n_sub
   FROM v{n_merges}
 ),
 d(doc_id, text) AS (SELECT * FROM (VALUES {dvals})),
 dw AS (
   SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
   FROM d
 )
 SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
 FROM dw JOIN seg USING (word)
 WHERE regexp_matches(word, '^[a-z]+$') AND len(word) <= 20
 GROUP BY doc_id"""
    )


@register(
    "bpe_merges_exact",
    oracle=_bpe_exact_oracle(_BPE_EXACT_WORDS, _BPE_EXACT_MERGES),
    description="Hash-level oracle surrogate for the BPE merge loop "
    "(same injected-parameter discipline as ml_kernel_*_exact): a "
    "fixed 7-type word-frequency table runs through the REAL "
    "_bpe_train_from_words plans — per-round pair-count partial agg, "
    "(pair_freq desc, lexicographic) argmax, greedy left-to-right "
    "F.aggregate rewrite — while DuckDB replays the identical greedy "
    "rounds as an unrolled CTE chain over |sym|-wrapped segmentation "
    "strings, where non-overlapping REPLACE is provably the same "
    "fold. Converts the trainer's merge-selection math from "
    "pytest-vs-textbook evidence to driver-hash evidence; the "
    "corpus-scale trainer stays rows-only, as it must.",
    tags=["text", "tokenizer", "llm-pipeline", "oracle-surrogate"],
)
def q_bpe_merges_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import _bpe_train_from_words

    words = spark.createDataFrame(_BPE_EXACT_WORDS, "word string, freq long")
    merges, _ = _bpe_train_from_words(words, _BPE_EXACT_MERGES)
    return merges


# Fixed documents for the serving-join surrogate, composed from the
# injected word types (plus one out-of-vocabulary word and one
# over-length word, pinning the inner-join drop and the length gate —
# vacuous in the corpus-trained flow, exact contract here).
_BPE_EXACT_DOCS = [
    (1, "low lower newest newest"),
    (2, "banana abab aaa low"),
    (3, "widest newest notinvocab aaa"),
    (4, "abab abab supercalifragilisticexpialidocious low"),
]


@register(
    "bpe_tokenize_exact",
    oracle=_bpe_apply_oracle(_BPE_EXACT_WORDS, _BPE_EXACT_MERGES, _BPE_EXACT_DOCS),
    description="Hash-level oracle surrogate for the BPE serving join "
    "(companion to bpe_merges_exact): fixed documents tokenize "
    "through the REAL _bpe_token_counts_from_vocab plan against the "
    "vocabulary the REAL merge loop produces from the injected word "
    "table, while DuckDB extends the same unrolled merge chain with "
    "the identical word-gate + inner join + per-document count/sum. "
    "Together the pair gives the full BPE train+apply path driver-hash "
    "evidence; the corpus-scale queries stay rows-only, as they must.",
    tags=["text", "tokenizer", "llm-pipeline", "oracle-surrogate"],
)
def q_bpe_tokenize_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import (
        _bpe_token_counts_from_vocab,
        _bpe_train_from_words,
    )

    words = spark.createDataFrame(_BPE_EXACT_WORDS, "word string, freq long")
    _, vocab = _bpe_train_from_words(words, _BPE_EXACT_MERGES)
    docs = spark.createDataFrame(_BPE_EXACT_DOCS, "doc_id long, text string")
    return _bpe_token_counts_from_vocab(
        docs, vocab, "doc_id", "text", max_word_len=20
    )


@register(
    "bpe_tokenize_docs",
    # Rows-only like the trainer (iterative argmax loop); the apply
    # path is pinned against the reference segmentation per document
    # in the same pytest.
    oracle=None,
    description="Per-document token counts under the trained BPE "
    "vocabulary: the merge loop runs on the word-TYPE table only, "
    "then every document tokenizes via ONE word-keyed equi-join "
    "against the segmented vocabulary — the serving half of the "
    "tokenizer, corpus cost independent of merge count.",
    tags=["text", "tokenizer", "llm-pipeline"],
)
def q_bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import bpe_token_counts

    return bpe_token_counts(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_merges=10
    )


@register(
    "dq_expectation_checks",
    # Deequ-style declarative data-quality gate (Schelter et al. 2018,
    # "Automating large-scale data quality verification"): a suite of
    # named expectations evaluated from ONE pass of metrics, emitted
    # as (check, observed, passed) rows — the contract check a 100 TB
    # ingest runs before publishing a partition.
    oracle="""
        WITH m AS (
            SELECT COUNT(*) AS n,
                   COUNT(value) AS nv,
                   COUNT(user_id) AS nu,
                   COUNT(DISTINCT event_id) AS de,
                   COUNT(DISTINCT event_type) AS dt,
                   MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS mn,
                   MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS mx
            FROM events
        )
        SELECT 'completeness_value' AS check, (nv * 1000) // n AS observed,
               (nv * 1000) // n >= 990 AS passed FROM m
        UNION ALL
        SELECT 'completeness_user_id', (nu * 1000) // n,
               (nu * 1000) // n = 1000 FROM m
        UNION ALL
        SELECT 'uniqueness_event_id', (de * 1000) // n,
               (de * 1000) // n = 1000 FROM m
        UNION ALL
        SELECT 'min_value_cents', mn, mn >= 0 FROM m
        UNION ALL
        SELECT 'max_value_cents', mx, mx <= 100000 FROM m
        UNION ALL
        SELECT 'event_type_cardinality', dt, dt BETWEEN 3 AND 10 FROM m
    """,
    description="Declarative data-quality expectation suite (Deequ "
    "pattern, Schelter 2018): completeness, key uniqueness, value "
    "bounds, and category-cardinality checks computed from a SINGLE "
    "metrics aggregation over the fact table and exploded to "
    "(check, observed, passed) verdict rows. Ratios are integer "
    "permille (hash-exact); at scale this is one scan + one benign "
    "scalar reduction — the pre-publish gate costs one pass however "
    "many expectations are declared.",
    tags=["quality", "profiling", "aggregate"],
)
def q_dq_expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    m = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("nv"),
        F.count("user_id").alias("nu"),
        F.countDistinct("event_id").alias("de"),
        F.countDistinct("event_type").alias("dt"),
        F.min(cents).alias("mn"),
        F.max(cents).alias("mx"),
    )
    pm = lambda a, b: F.expr(f"{a} * 1000 div {b}")  # noqa: E731

    def check(name, observed, passed):
        return F.struct(
            F.lit(name).alias("check"),
            observed.cast("long").alias("observed"),
            passed.alias("passed"),
        )

    return m.select(
        F.explode(
            F.array(
                check("completeness_value", pm("nv", "n"), pm("nv", "n") >= 990),
                check("completeness_user_id", pm("nu", "n"), pm("nu", "n") == 1000),
                check("uniqueness_event_id", pm("de", "n"), pm("de", "n") == 1000),
                check("min_value_cents", F.col("mn"), F.col("mn") >= 0),
                check("max_value_cents", F.col("mx"), F.col("mx") <= 100000),
                check(
                    "event_type_cardinality",
                    F.col("dt"),
                    F.col("dt").between(3, 10),
                ),
            )
        ).alias("e")
    ).select("e.*")


@register(
    "sequence_gap_detection",
    # The id-space dual of gaps-and-islands: find the MISSING ranges
    # in an ordered key sequence — the ops tool behind "which
    # partitions / offsets / invoice numbers are absent". Purchases
    # are a ~1/5 subset of the dense global event_id space, so gaps
    # are guaranteed at every scale factor.
    oracle="""
        WITH p AS (
            SELECT event_id,
                   lag(event_id) OVER (ORDER BY event_id) AS prev_id
            FROM events WHERE event_type = 'purchase'
        )
        SELECT CAST(prev_id + 1 AS BIGINT) AS gap_start,
               CAST(event_id - 1 AS BIGINT) AS gap_end,
               CAST(event_id - prev_id - 1 AS BIGINT) AS gap_len
        FROM p
        WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
        ORDER BY gap_len DESC, gap_start
        LIMIT 20
    """,
    description="Sequence gap detection (missing-range audit): the "
    "top-20 largest holes in the purchase event_id sequence — which "
    "partitions/offsets/keys are absent. The oracle states it as the "
    "textbook global lag(); the Spark plan computes each key's "
    "PREDECESSOR as the exclusive prefix max over strictly-smaller "
    "ids on the two-pass parallel scan (for a unique ordered key, "
    "prefix-max == lag) — zero global windows, and the top-20 is a "
    "distributed TakeOrdered. The repo's own scale discipline applied "
    "to a new pattern, not an allowlist entry.",
    tags=["quality", "audit", "prefix-scan"],
)
def q_sequence_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import ordered_prefix_max

    ev = load_table(spark, sf_dir, "events")
    # pin the slim id skeleton once: the prefix scan consumes its input
    # for bounds, subtotals, and the per-bucket window — unpinned, each
    # consumer replays the parquet scan (6 scans at plan time)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id")
        .localCheckpoint(eager=True)
    )
    gaps = (
        ordered_prefix_max(p, "event_id", "event_id", out_col="prev_id")
        .filter(
            F.col("prev_id").isNotNull() & (F.col("event_id") - F.col("prev_id") > 1)
        )
        .select(
            (F.col("prev_id") + 1).cast("long").alias("gap_start"),
            (F.col("event_id") - 1).cast("long").alias("gap_end"),
            (F.col("event_id") - F.col("prev_id") - 1).cast("long").alias("gap_len"),
        )
    )
    return gaps.orderBy(F.desc("gap_len"), F.asc("gap_start")).limit(20)


@register(
    "doc_lm_cross_entropy",
    # TRUE unigram-LM cross-entropy quality scoring (the CCNet gate,
    # Wenzek et al. 2020, in its actual log form — upgrading the
    # count-based bigram_coverage_quality tier the way bm25_det_topk
    # removed bm25_rational_topk's log compromise): per document,
    # H = (1/n) sum_tokens ln(1/p(w)) nats against the Laplace-
    # smoothed corpus unigram LM p(w) = (c(w)+1)/(T+V). Each token's
    # ln goes through the deterministic expression and floors to
    # exact nano-nats BEFORE the per-doc sum (order-free); the
    # per-token mean is ONE int/int division. The keep/drop gate at
    # 9 nats (~e^9 perplexity) is a pure integer comparison
    # (sum_nano <= n * 9e9). det_ln domain note: inv_p <= T+V, fine
    # through ~2^41 total tokens; past that, rescale p into the
    # window first.
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, u.w AS word
            FROM documents,
                 unnest(string_split_regex(trim(text), '\\s+')) AS u(w)
        ), corpus AS (
            SELECT word, COUNT(*) AS c FROM tok GROUP BY 1
        ), tot AS (
            SELECT SUM(c) AS t, COUNT(*) AS v FROM corpus
        ), r AS (
            SELECT tok.doc_id,
                   (CAST(tot.t + tot.v AS DOUBLE)
                    / CAST(corpus.c + 1 AS DOUBLE)) AS inv_p
            FROM tok JOIN corpus USING (word), tot
        ), terms AS (
            SELECT doc_id, {_XENT_TERM_SQL} AS nano FROM r
        ), d AS (
            SELECT doc_id, COUNT(*) AS n, SUM(nano) AS s FROM terms
            GROUP BY 1
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(s AS BIGINT) AS xent_sum_nano,
               {sround_sql('CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e9', 6)}
                   AS xent_nats,
               CAST(CASE WHEN s <= n * 9000000000 THEN 1 ELSE 0 END
                    AS BIGINT) AS keep
        FROM d
    """,
    description="Per-document unigram cross-entropy against the "
    "Laplace-smoothed corpus LM, in exact nano-nats via the "
    "deterministic ln — the CCNet perplexity gate's math with a "
    "hash-checkable oracle; keep/drop at 9 nats is an integer "
    "comparison. One token explode, one word-keyed corpus join "
    "(AQE-skew-safe on hot words), one doc agg.",
    tags=["text", "quality", "llm-pipeline"],
)
def q_doc_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    corpus = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = corpus.agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")
    )
    r = (
        tok.join(corpus, "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                (F.col("t") + F.col("v")).cast("double")
                / (F.col("c") + 1).cast("double")
            ).alias("inv_p"),
        )
    )
    # Column twin of _XENT_TERM_SQL (r12): compact det_ln tree
    terms = r.select(
        "doc_id",
        F.floor(det_ln_col(F.col("inv_p")) * F.lit(1e9) + F.lit(0.5))
        .cast("long").alias("nano"),
    )
    d = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("nano").alias("s")
    )
    return d.select(
        F.col("doc_id").cast("long"),
        F.col("n").cast("long").alias("n_tokens"),
        F.col("s").cast("long").alias("xent_sum_nano"),
        sround(
            F.col("s").cast("double") / F.col("n").cast("double") / F.lit(1e9),
            6,
        ).alias("xent_nats"),
        F.when(F.col("s") <= F.col("n") * F.lit(9000000000), 1)
        .otherwise(0)
        .cast("long")
        .alias("keep"),
    )


@register(
    "zipf_slope_fit",
    # Zipf's-law fit over the corpus vocabulary (Zipf 1949; the
    # canonical corpus-sanity diagnostic — natural text fits
    # ln f = a + s*ln r with s ~ -1, while boilerplate/spam/generated
    # corpora bend away): OLS of ln(frequency) on ln(rank) over the
    # top-100 ranks (the head is where the law holds and where the
    # fit is standard practice). Exactness: ranks come from a
    # TakeOrdered top-100 (freq DESC, word ASC — deterministic ties,
    # no global-window funnel over the vocabulary), both logs go
    # through the deterministic ln floored to MICRO-nats (bounded so
    # every OLS cross-product stays far inside int64: |x|,|y| <=
    # ~2e7, products <= ~4e14, sums over 100 points <= ~4e16), and
    # slope/intercept are single divisions of exact integer
    # determinant forms — never composed from each other.
    oracle=f"""
        WITH tok AS (
            SELECT u.w AS word
            FROM documents,
                 unnest(string_split_regex(trim(text), '\\s+')) AS u(w)
        ), wf AS (
            SELECT word, COUNT(*) AS f FROM tok GROUP BY 1
        ), tot AS (
            SELECT COUNT(*) AS vocab, SUM(f) AS total_tokens FROM wf
        ), top AS (
            SELECT word, f,
                   CAST(row_number() OVER (ORDER BY f DESC, word)
                        AS BIGINT) AS r
            FROM wf
            QUALIFY r <= 100
        ), pts AS (
            SELECT CAST(r AS DOUBLE) AS rankd, CAST(f AS DOUBLE) AS freqd
            FROM top
        ), nano AS (
            SELECT {_ZIPF_XN_SQL} AS xn, {_ZIPF_YN_SQL} AS yn FROM pts
        ), s AS (
            SELECT COUNT(*) AS n, SUM(xn) AS sx, SUM(yn) AS sy,
                   SUM(xn * xn) AS sxx, SUM(xn * yn) AS sxy
            FROM nano
        )
        SELECT CAST(s.n AS BIGINT) AS n_points,
               CAST(tot.vocab AS BIGINT) AS vocab,
               CAST(tot.total_tokens AS BIGINT) AS total_tokens,
               {sround_sql(
                   '(CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)'
                   ' - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))'
                   ' / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)'
                   ' - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))', 6)}
                   AS zipf_slope,
               {sround_sql(
                   '(CAST(s.sxx AS DOUBLE) * CAST(s.sy AS DOUBLE)'
                   ' - CAST(s.sx AS DOUBLE) * CAST(s.sxy AS DOUBLE))'
                   ' / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)'
                   ' - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)) / 1e6', 6)}
                   AS intercept_nats
        FROM s, tot
    """,
    description="Zipf's-law slope over the top-100 word ranks: "
    "deterministic TakeOrdered head (no vocabulary-sized window), "
    "micro-nat logs through the deterministic ln, OLS slope and "
    "intercept as exact-integer determinant divisions. Natural text "
    "sits near slope -1; the corpus-pathology dial for generated or "
    "boilerplate-heavy sources.",
    tags=["text", "quality", "llm-pipeline", "aggregate"],
)
def q_zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    wf = tok.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    tot = wf.agg(
        F.count(F.lit(1)).alias("vocab"), F.sum("f").alias("total_tokens")
    )
    # TakeOrderedAndProject: per-partition top-100 then a 100-row
    # merge on the driver side of the exchange — never a full sort
    top = wf.orderBy(F.col("f").desc(), "word").limit(100)
    wr = Window.orderBy(F.col("f").desc(), "word")
    pts = top.select(
        F.row_number().over(wr).cast("long").alias("r"), "f"
    ).select(
        F.col("r").cast("double").alias("rankd"),
        F.col("f").cast("double").alias("freqd"),
    )
    # Column twins of _ZIPF_XN/YN_SQL (r12): compact det_ln trees
    nano = pts.select(
        F.floor(det_ln_col(F.col("rankd")) * F.lit(1e6) + F.lit(0.5))
        .cast("long").alias("xn"),
        F.floor(det_ln_col(F.col("freqd")) * F.lit(1e6) + F.lit(0.5))
        .cast("long").alias("yn"),
    )
    sagg = nano.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xn").alias("sx"),
        F.sum("yn").alias("sy"),
        F.sum(F.col("xn") * F.col("xn")).alias("sxx"),
        F.sum(F.col("xn") * F.col("yn")).alias("sxy"),
    )
    # every determinant factor is cast to DOUBLE BEFORE multiplying:
    # sxx*sy reaches ~1e24 (int64 overflow); per-factor casts are
    # exact-or-correctly-rounded identically in both engines
    nd, sxd, syd, sxxd, sxyd = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("sxy").cast("double"),
    )
    det = nd * sxxd - sxd * sxd
    return sagg.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n_points"),
        F.col("vocab").cast("long"),
        F.col("total_tokens").cast("long"),
        sround((nd * sxyd - sxd * syd) / det, 6).alias("zipf_slope"),
        sround((sxxd * syd - sxd * sxyd) / det / F.lit(1e6), 6).alias(
            "intercept_nats"
        ),
    )
