"""Text-analysis queries over the `documents` table (training-data ops).

Language-ID (lexicon-hit argmax), quality scoring (length / punctuation /
stopword ratios), token counting, exact TF-IDF via joins (no feature
hashing — deterministic and oracle-checkable), content fingerprinting.
All built-in expressions; see functions/textfns.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from banking_streaming_etl_spark import datamodel
from banking_streaming_etl_spark.functions import exact, portable, textfns


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datamodel.load_table(spark, sf_dir, "documents").withColumn(
        "toks", textfns.tokens()
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token count + distinct-token count (type-token shape)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_tokens_distintos"),
    )


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_tokens_distintos
FROM documents
"""


#: BPE-ish pre-tokenizer (GPT-2 style, ASCII subset): contraction
#: suffixes, space-prefixed words/numbers, punctuation runs. Same
#: leftmost-first alternation semantics in Java regex (Spark) and RE2
#: (DuckDB) — parity verified over the whole corpus in the oracle gate.
BPE_PATTERN = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting the way an LLM-data pipeline actually bills it:
    whitespace tokens next to BPE-ish pre-tokens (the regex that feeds a
    byte-pair encoder), plus their ratio — the 'fertility' proxy used to
    budget training tokens from raw text. Narrow JVM map over the scan."""
    d = _docs(spark, sf_dir)
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0))
    n_ws = F.size("toks")
    return d.select(
        "doc_id",
        n_ws.alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        F.round(
            n_bpe.cast("double") / F.greatest(n_ws, F.lit(1)).cast("double"), 6
        ).alias("fertilidade"),
    )


_BPE_SQL_PAT = BPE_PATTERN.replace("'", "''")

TOKEN_COUNTS_BPE_SQL = f"""
WITH d AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens_ws,
           len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS n_tokens_bpe
    FROM documents
)
SELECT doc_id, n_tokens_ws, n_tokens_bpe,
       ROUND(CAST(n_tokens_bpe AS DOUBLE)
             / CAST(GREATEST(n_tokens_ws, 1) AS DOUBLE), 6) AS fertilidade
FROM d
"""


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics: char/token lengths, punctuation ratio, stopword
    ratio, and a composite keep/drop flag (the filtering op a training
    pipeline actually runs)."""
    d = _docs(spark, sf_dir)
    nt = F.size("toks").cast("double")
    avg_tok = (F.length("text").cast("double") - (nt - 1)) / nt
    sw = textfns.stopword_ratio(F.col("toks"))
    pr = textfns.punct_ratio()
    keep = (
        (F.size("toks") >= 10)
        & (sw >= 0.05)
        & (pr <= 0.2)
    )
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("toks").alias("n_tokens"),
        F.round(avg_tok, 6).alias("tamanho_medio_token"),
        F.round(pr, 6).alias("razao_pontuacao"),
        F.round(sw, 6).alias("razao_stopwords"),
        keep.alias("manter"),
    )


TEXT_QUALITY_SQL = f"""
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       LENGTH(text) AS n_chars,
       len(toks) AS n_tokens,
       ROUND((CAST(LENGTH(text) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1))
             / CAST(len(toks) AS DOUBLE), 6) AS tamanho_medio_token,
       ROUND({textfns.PUNCT_RATIO_SQL}, 6) AS razao_pontuacao,
       ROUND({textfns.stopword_ratio_sql('toks')}, 6) AS razao_stopwords,
       (len(toks) >= 10 AND {textfns.stopword_ratio_sql('toks')} >= 0.05
        AND {textfns.PUNCT_RATIO_SQL} <= 0.2) AS manter
FROM d
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-hit argmax language ID with deterministic tie order."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_anotada"),
        textfns.lang_id(F.col("toks")).alias("lang_prevista"),
    )


LANG_ID_SQL = f"""
WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang AS lang_anotada,
       {textfns.lang_id_sql('toks')} AS lang_prevista
FROM d
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 (exact dedup key) + normalized-text md5
    (case/extra-space-insensitive near-exact key)."""
    d = datamodel.load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " ")))
    return d.select(
        "doc_id",
        textfns.md5_fingerprint().alias("fingerprint"),
        F.md5(norm).alias("fingerprint_normalizado"),
    )


DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       md5(text) AS fingerprint,
       md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
           AS fingerprint_normalizado
FROM documents
"""


def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF via joins (tf x ln((N+1)/(df+1)) + 1), tf >= 2 terms.
    No feature hashing: deterministic, inspectable, oracle-checkable —
    at scale this is two shuffles (doc-term counts, term df) + a broadcast
    of the term-df side after the df filter."""
    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode("toks").alias("termo"))
    tf = terms.groupBy("doc_id", "termo").agg(F.count("*").alias("tf"))
    df_ = terms.distinct().groupBy("termo").agg(F.count("*").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    idf = F.log(
        (F.col("n_docs").cast("double") + 1.0) / (F.col("df").cast("double") + 1.0)
    ) + F.lit(1.0)
    return (
        tf.join(F.broadcast(df_), "termo")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("tf") >= 2)
        .select(
            "doc_id",
            "termo",
            "tf",
            "df",
            F.round(F.col("tf").cast("double") * idf, 6).alias("tfidf"),
        )
    )


TFIDF_SQL = """
WITH terms AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS termo FROM documents
),
tf AS (SELECT doc_id, termo, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT termo, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT doc_id, termo, tf, df,
       ROUND(CAST(tf AS DOUBLE)
             * (LN((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
                + 1.0), 6) AS tfidf
FROM tf JOIN df USING (termo), n
WHERE tf >= 2
"""


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: per-doc mean ln P(token) under the
    corpus's own unigram distribution — the perplexity-proxy quality
    filter (docs full of rare tokens score low; boilerplate scores high).
    Scale shape: one shuffle to build the term-frequency table, then a
    broadcast join of that (vocabulary-sized) table back onto the
    exploded terms and a per-doc aggregate; the corpus total is one
    scalar broadcast. Mean accumulates exact decimal moments over the
    6-rounded log, same determinism recipe as every other statistic."""
    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode("toks").alias("termo"))
    freq = terms.groupBy("termo").agg(F.count("*").alias("c"))
    total = terms.agg(F.count("*").alias("t"))
    logp = F.log(F.col("c").cast("double") / F.col("t").cast("double"))
    return (
        terms.join(F.broadcast(freq), "termo")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            exact.exact_avg(F.round(logp, 6), "logprob_medio"),
        )
    )


#: top-K vocabulary sizes audited by vocab_coverage_topk
VOCAB_COVERAGE_KS = (10, 100, 1000)


def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: how many corpus tokens the top-K most
    frequent terms cover, for K in VOCAB_COVERAGE_KS — the tokenizer /
    vocabulary-size design datapoint (a Zipfian corpus saturates fast;
    a flat curve says the vocab budget is underpowered).

    Scale shape: one term-frequency aggregate, then the exact
    distributed prefix-sum (operators/ranking.with_global_cumsum) over
    descending frequency — NO unpartitioned window, so the curve
    survives a 10^9-term vocabulary. The tiebreak id is the portable
    md5_48 of the term (both dialects hash identically), and the output
    carries only counts: a true 48-bit collision between equal-count
    terms could swap their ranks but never changes any emitted value
    (the multiset of top-K counts is tie-order-invariant). Outputs are
    exact BIGINTs — numerator and denominator, never a rounded ratio
    (the exact-rational ROUND(.,6) boundary hazard)."""
    from banking_streaming_etl_spark.operators import ranking

    d = _docs(spark, sf_dir)
    terms = d.select(F.explode("toks").alias("termo"))
    freq = (
        terms.groupBy("termo")
        .agg(F.count("*").alias("c"))
        .withColumn("tid", portable.md5_48(F.col("termo")))
    )
    cum = ranking.with_global_cumsum(
        freq, "c", "tid", "c", out="cum", rank_out="r",
        value_desc=True, nulls="reject",
    )
    ks = F.explode(
        F.array(*[F.lit(k).cast("bigint") for k in VOCAB_COVERAGE_KS])
    ).alias("k")
    return (
        cum.crossJoin(F.broadcast(cum.sparkSession.range(1).select(ks)))
        .filter(F.col("r") == F.col("k"))
        .select(
            "k",
            F.col("_rank_n_total").alias("termos_total"),
            F.col("cum").cast("bigint").alias("tokens_cobertos"),
            F.col("_cumsum_total").cast("bigint").alias("tokens_total"),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH terms AS (
    SELECT unnest(string_split(text, ' ')) AS termo FROM documents
),
freq AS (SELECT termo, COUNT(*) AS c FROM terms GROUP BY termo),
ranked AS (
    SELECT ROW_NUMBER() OVER (
               ORDER BY c DESC, {portable.md5_48_sql('termo')} ASC
           ) AS r,
           SUM(CAST(c AS DECIMAL(38,9))) OVER (
               ORDER BY c DESC, {portable.md5_48_sql('termo')} ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum,
           COUNT(*) OVER () AS termos_total,
           SUM(CAST(c AS DECIMAL(38,9))) OVER () AS tokens_total
    FROM freq
)
SELECT k, CAST(termos_total AS BIGINT) AS termos_total,
       CAST(cum AS BIGINT) AS tokens_cobertos,
       CAST(tokens_total AS BIGINT) AS tokens_total
FROM ranked,
     (SELECT unnest([{", ".join(str(k) for k in VOCAB_COVERAGE_KS)}]) AS k)
WHERE r = k
"""


def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth checkpoints: cumulative token count
    and cumulative DISTINCT-term count at each decile of the corpus
    (docs laid in doc_id order) — `zipf_fit_tokens`' companion (Zipf
    describes the frequency profile; Heaps V(n) ~ K·n^beta predicts how
    much new vocabulary the next shard of data buys).

    The exact cumulative-distinct trick: a term is counted once, at the
    doc where it FIRST appears (min doc_id per term — one shuffle), so
    cumulative vocabulary is just a prefix sum of per-doc new-term
    counts — two runs of the exact distributed prefix-sum over the same
    doc order, never a giant distinct-state window. Integer outputs
    only. Checkpoint docs are the exact decile ranks CEIL(d/10 * n)."""
    from banking_streaming_etl_spark.operators import ranking

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size("toks").alias("n_tokens"), "toks"
    )
    first = (
        d.select("doc_id", F.explode("toks").alias("termo"))
        .groupBy("termo")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").alias("novos_termos"))
    )
    base = (
        d.select("doc_id", "n_tokens")
        .join(first.withColumnRenamed("first_doc", "doc_id"), "doc_id", "left")
        .withColumn(
            "novos_termos", F.coalesce("novos_termos", F.lit(0).cast("bigint"))
        )
    )
    tok = ranking.with_global_cumsum(
        base, "doc_id", "doc_id", "n_tokens", out="tok_cum", rank_out="r",
        nulls="reject",
    ).select(
        "doc_id", "r", "_rank_n_total",
        F.col("tok_cum").cast("bigint").alias("tokens_acum"),
    )
    voc = ranking.with_global_cumsum(
        base, "doc_id", "doc_id", "novos_termos", out="voc_cum",
        nulls="reject",
    ).select("doc_id", F.col("voc_cum").cast("bigint").alias("vocab_acum"))
    dec = F.explode(
        F.array(*[F.lit(x).cast("int") for x in range(1, 11)])
    ).alias("decil")
    return (
        tok.join(voc, "doc_id")
        .crossJoin(F.broadcast(tok.sparkSession.range(1).select(dec)))
        .filter(
            F.col("r")
            == F.ceil(
                F.col("decil").cast("double")
                / F.lit(10.0)
                * F.col("_rank_n_total").cast("double")
            ).cast("bigint")
        )
        .select(
            "decil",
            F.col("r").alias("docs_acum"),
            "tokens_acum",
            "vocab_acum",
        )
    )


HEAPS_GROWTH_SQL = """
WITH d AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
           string_split(text, ' ') AS toks
    FROM documents
),
first AS (
    SELECT first_doc, COUNT(*) AS novos_termos
    FROM (
        SELECT termo, MIN(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(toks) AS termo FROM d)
        GROUP BY termo
    )
    GROUP BY first_doc
),
base AS (
    SELECT d.doc_id, d.n_tokens,
           COALESCE(f.novos_termos, 0) AS novos_termos
    FROM d LEFT JOIN first f ON d.doc_id = f.first_doc
),
cums AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY doc_id ASC) AS r,
           COUNT(*) OVER () AS n,
           CAST(SUM(CAST(n_tokens AS DECIMAL(38,9))) OVER (
               ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS tokens_acum,
           CAST(SUM(CAST(novos_termos AS DECIMAL(38,9))) OVER (
               ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS vocab_acum
    FROM base
)
SELECT decil, r AS docs_acum, tokens_acum, vocab_acum
FROM cums,
     (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS decil)
WHERE r = CAST(CEIL(CAST(decil AS DOUBLE) / 10.0 * CAST(n AS DOUBLE))
               AS BIGINT)
"""


UNIGRAM_LOGPROB_SQL = f"""
WITH terms AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS termo FROM documents
),
freq AS (SELECT termo, COUNT(*) AS c FROM terms GROUP BY termo),
tot AS (SELECT COUNT(*) AS t FROM terms)
SELECT doc_id, COUNT(*) AS n_tokens,
       {exact.sql_avg("ROUND(LN(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 6)",
                      "logprob_medio")}
FROM terms JOIN freq USING (termo), tot
GROUP BY doc_id
"""


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: per-doc mean ln P(w_i | w_{i-1})
    under the corpus's own MLE bigram model — the conditional upgrade of
    `unigram_logprob_scores` (repetitive boilerplate scores even higher,
    incoherent token salads even lower; the spread between the two is
    itself a quality signal). Conditionals are normalized over the bigram
    table (c(w1,w2)/c(w1 as bigram head)), so every probability is
    well-defined without smoothing.

    Scale shape: one shuffle to build each frequency table (bigram,
    head), then shuffle joins keyed by the gram strings and a per-doc
    aggregate — at 100 TB the bigram table outgrows broadcast, and the
    equi-join plan here is exactly what survives that."""
    d = _docs(spark, sf_dir)
    bi = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ',"
                " element_at(toks, i + 1)))"
            )
        ).alias("g"),
    ).withColumn("w1", F.split("g", " ").getItem(0))
    freq2 = bi.groupBy("g").agg(F.count("*").alias("c2"))
    freq1 = bi.groupBy("w1").agg(F.count("*").alias("c1"))
    logp = F.log(F.col("c2").cast("double") / F.col("c1").cast("double"))
    return (
        bi.join(freq2, "g")
        .join(freq1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigramas"),
            exact.exact_avg(F.round(logp, 6), "logprob_medio"),
        )
    )


BIGRAM_LOGPROB_SQL = f"""
WITH bi AS (
    SELECT doc_id, g, string_split(g, ' ')[1] AS w1
    FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
),
freq2 AS (SELECT g, COUNT(*) AS c2 FROM bi GROUP BY g),
freq1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1)
SELECT doc_id, COUNT(*) AS n_bigramas,
       {exact.sql_avg("ROUND(LN(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)), 6)",
                      "logprob_medio")}
FROM bi JOIN freq2 USING (g) JOIN freq1 USING (w1)
GROUP BY doc_id
"""


WINNOW_K = 5  # char k-gram length
WINNOW_W = 4  # winnowing window (guarantee: matches >= K+W-1 chars share a print)

#: cross-engine rolling hash: first 12 hex chars of md5 -> bigint (fits in
#: 48 bits, positive) — identical in Spark (conv) and DuckDB (0x-cast).
_HASH_SPARK = "cast(conv(substring(md5(s), 1, 12), 16, 10) as bigint)"
_HASH_DUCK = "CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT)"


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every char
    k-gram, keep the minimum hash of each sliding window of W consecutive
    k-grams, emit the distinct selected hashes. Guarantees any shared
    substring of length >= K+W-1 yields a shared fingerprint, while
    storing ~2/(W+1) of the k-gram hashes. Pure array expressions — at
    scale this is a narrow map over the document scan. The guarantee
    itself is property-tested on arbitrary planted substrings
    (tests/test_property_text.py)."""
    return winnow_frame(datamodel.load_table(spark, sf_dir, "documents"))


def winnow_frame(docs: DataFrame) -> DataFrame:
    """Winnowing over any (doc_id, text) frame."""
    d = docs.filter(F.length("text") >= WINNOW_K + WINNOW_W)
    kgrams = F.expr(
        f"transform(sequence(1, length(text) - {WINNOW_K - 1}),"
        f" i -> substring(text, i, {WINNOW_K}))"
    )
    hashes = F.expr(f"transform(kgrams, s -> {_HASH_SPARK})")
    windows = F.expr(
        f"transform(sequence(1, size(hashes) - {WINNOW_W - 1}),"
        f" j -> array_min(slice(hashes, j, {WINNOW_W})))"
    )
    # Catalyst's projection collapsing/pushdown inlines the `hashes` alias
    # into every window lambda, recomputing the full md5 array per window —
    # O(n^2) hashes, measured 100s vs 0.8s at sf0.001. An exchange is NOT a
    # barrier (projects push through it); an InMemoryRelation is. The cached
    # frame is just (doc_id, hash array) — tiny relative to the corpus.
    hashed = (
        d.withColumn("kgrams", kgrams)
        .withColumn("hashes", hashes)
        .select("doc_id", "hashes")
        .cache()
    )
    return (
        hashed.withColumn("fps", F.array_distinct(windows))
        .select("doc_id", F.explode("fps").alias("fingerprint"))
    )


WINNOWING_SQL = f"""
WITH kg AS (
    SELECT doc_id,
           list_transform(range(1, length(text) - {WINNOW_K - 2}),
                          i -> substr(text, CAST(i AS INT), {WINNOW_K})) AS kgrams
    FROM documents
    WHERE length(text) >= {WINNOW_K + WINNOW_W}
),
h AS (
    SELECT doc_id,
           list_transform(kgrams, s -> {_HASH_DUCK}) AS hashes
    FROM kg
),
w AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, len(hashes) - {WINNOW_W - 2}),
               j -> list_min(hashes[j:j + {WINNOW_W - 1}]))) AS fps
    FROM h
)
SELECT doc_id, unnest(fps) AS fingerprint FROM w
"""


def scrub_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (emails/phones/IPs -> typed placeholder tokens)
    with per-kind audit counts. The scrubbed text is emitted as an md5
    so the oracle hashes a fixed-width value instead of whole documents;
    the planted-string unit test checks the actual redacted text. This
    corpus contains no PII, so the oracle primarily pins that the
    Java-regex and RE2 replace semantics agree on every document
    (identity on clean text is the common case a scrub job hits)."""
    d = datamodel.load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        *textfns.pii_counts(),
        F.md5(textfns.scrub_pii()).alias("texto_limpo_md5"),
    )


SCRUB_PII_SQL = f"""
SELECT doc_id,
       {textfns.pii_counts_sql('text')},
       md5({textfns.scrub_pii_sql('text')}) AS texto_limpo_md5
FROM documents
"""


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus cleaning pass, composed from the
    building blocks a real 100 TB pipeline chains: exact dedup (keep the
    lowest doc_id per content digest) -> quality filter (the `manter`
    composite) -> language ID -> deterministic train/test split. Output
    is one row per surviving document with its routing metadata.

    Composition reuses the registered single-step builders — no forked
    derivations — so each stage stays individually oracle-checked while
    this query checks the whole chain. Scale shape: one shuffle on the
    16-byte digest for dedup, then doc_id-keyed joins (at 100 TB you'd
    bucket the corpus by doc_id once and every join here is co-located;
    AQE handles the residual skew)."""
    from banking_streaming_etl_spark.operators import sampling

    q = text_quality_scores(spark, sf_dir).select(
        "doc_id", "n_tokens", "manter"
    )
    lang = lang_id_heuristic(spark, sf_dir).select("doc_id", "lang_prevista")
    fp = doc_fingerprints(spark, sf_dir).select("doc_id", "fingerprint")
    split = sampling.train_test_split_docs(spark, sf_dir).select(
        "doc_id", "split"
    )
    canonical = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return (
        q.filter(F.col("manter"))
        .join(canonical.select("doc_id"), "doc_id")
        .join(lang, "doc_id")
        .join(split, "doc_id")
        .select("doc_id", "lang_prevista", "split", "n_tokens")
    )


def _corpus_clean_sql() -> str:
    from banking_streaming_etl_spark.operators import sampling

    return f"""
WITH quality AS ({TEXT_QUALITY_SQL}),
lang AS ({LANG_ID_SQL}),
fp AS ({DOC_FINGERPRINTS_SQL}),
split AS ({sampling.TRAIN_TEST_SPLIT_SQL}),
canonical AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint)
SELECT quality.doc_id, lang.lang_prevista, split.split, quality.n_tokens
FROM quality
JOIN canonical USING (doc_id)
JOIN lang ON quality.doc_id = lang.doc_id
JOIN split ON quality.doc_id = split.doc_id
WHERE quality.manter
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: per-document fraction of
    duplicated n-gram occurrences and fraction claimed by the single most
    frequent n-gram, for n in {2, 3} (Rae et al. 2021, §A1.1 — the
    filters that catch boilerplate/spam a unigram score misses).

    Scale shape: explode n-grams (narrow ~n x fan-out of the token
    stream), one shuffle keyed (doc_id, gram) for the per-gram counts,
    then a doc-keyed re-aggregation — same two-level plan as TF-IDF.
    All-integer counts divided in double at the end, so cross-engine
    bit-identity is free."""
    d = _docs(spark, sf_dir).filter(F.size("toks") >= 3)
    out = None
    for n in (2, 3):
        parts = ", ' ', ".join(f"element_at(toks, i + {j})" for j in range(n))
        grams = F.expr(
            f"transform(sequence(1, size(toks) - {n - 1}),"
            f" i -> concat({parts}))"
        )
        g = d.select("doc_id", F.explode(grams).alias("g"))
        c = g.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        total = F.col(f"n_{n}grams").cast("double")
        s = (
            c.groupBy("doc_id")
            .agg(
                F.sum("c").alias(f"n_{n}grams"),
                F.count("*").alias("_d"),
                F.max("c").alias("_t"),
            )
            .select(
                "doc_id",
                f"n_{n}grams",
                # exact integer ratios UNROUNDED (l_diversity/chi2
                # convention — no .5-at-digit-7 cross-engine hazard)
                (
                    (F.col(f"n_{n}grams") - F.col("_d")).cast("double")
                    / total
                ).alias(f"frac_dup_{n}gram"),
                (F.col("_t").cast("double") / total).alias(
                    f"frac_top_{n}gram"
                ),
            )
        )
        out = s if out is None else out.join(s, "doc_id")
    return out


def _rep_block(n: int) -> str:
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
g{n} AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - {n - 2}),
                                 i -> {parts})) AS g
    FROM d
),
c{n} AS (SELECT doc_id, g, COUNT(*) AS c FROM g{n} GROUP BY 1, 2),
s{n} AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_{n}grams,
           COUNT(*) AS d_{n},
           MAX(c) AS t_{n}
    FROM c{n} GROUP BY 1
)"""


REPETITION_STATS_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    WHERE len(string_split(text, ' ')) >= 3
),{_rep_block(2)},{_rep_block(3)}
SELECT doc_id,
       n_2grams,
       CAST(n_2grams - d_2 AS DOUBLE) / CAST(n_2grams AS DOUBLE)
           AS frac_dup_2gram,
       CAST(t_2 AS DOUBLE) / CAST(n_2grams AS DOUBLE)
           AS frac_top_2gram,
       n_3grams,
       CAST(n_3grams - d_3 AS DOUBLE) / CAST(n_3grams AS DOUBLE)
           AS frac_dup_3gram,
       CAST(t_3 AS DOUBLE) / CAST(n_3grams AS DOUBLE)
           AS frac_top_3gram
FROM s2 JOIN s3 USING (doc_id)
"""


CHUNK_SIZE = 32  # tokens per chunk
CHUNK_STRIDE = 24  # tokens between chunk starts (8-token overlap)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the op every training pipeline
    runs between cleaning and tokenization: fixed CHUNK_SIZE-token
    windows every CHUNK_STRIDE tokens (trailing short chunk kept), each
    emitted as (doc_id, chunk_id, token count, md5 of the re-joined
    text). Pure array expressions: a narrow map + explode over the scan,
    no shuffle at any scale. The md5 stands in for the chunk text so the
    oracle hashes fixed-width values; chunk boundaries are pinned
    exactly by tests/test_extensions.py."""
    d = _docs(spark, sf_dir)
    n_chunks = (
        f"1 + (greatest(size(toks) - {CHUNK_SIZE}, 0)"
        f" + {CHUNK_STRIDE - 1}) div {CHUNK_STRIDE}"
    )
    chunk = f"slice(toks, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})"
    return (
        d.select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, {n_chunks} - 1)")).alias("chunk_id"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.expr(f"size({chunk})").alias("n_tokens_chunk"),
            F.expr(f"md5(array_join({chunk}, ' '))").alias("chunk_md5"),
        )
    )


CHUNK_DOCUMENTS_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           1 + (GREATEST(len(string_split(text, ' ')) - {CHUNK_SIZE}, 0)
                + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE} AS n_chunks
    FROM documents
),
k AS (
    SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM d
)
SELECT doc_id, chunk_id,
       len(toks[chunk_id * {CHUNK_STRIDE} + 1
                : chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}]) AS n_tokens_chunk,
       md5(array_to_string(toks[chunk_id * {CHUNK_STRIDE} + 1
                : chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')) AS chunk_md5
FROM k
"""


def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency top-50 (deterministic tiebreak)."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode("toks").alias("termo"))
        .groupBy("termo")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("termo"))
        .limit(50)
    )


TOP_TOKENS_SQL = """
SELECT termo, COUNT(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS termo FROM documents)
GROUP BY termo
ORDER BY freq DESC, termo ASC
LIMIT 50
"""


def lexical_diversity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional quality scores: per-doc token entropy (lexical
    diversity — near-zero for 'aaaa...' spam) and KL divergence of the
    doc's unigram distribution from the corpus distribution (domain
    outlier score — high when a doc's vocabulary is unlike the corpus).
    Same two-level explode/agg plan as TF-IDF; every summed term is
    rounded to 6 and accumulated in DECIMAL so both engines agree
    bit-for-bit. p = tf/n per doc, q = corpus freq/total; every token in
    a doc exists in the corpus, so q > 0 always."""
    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode("toks").alias("termo"))
    tf = terms.groupBy("doc_id", "termo").agg(F.count("*").alias("tf"))
    n = terms.groupBy("doc_id").agg(F.count("*").alias("n"))
    freq = terms.groupBy("termo").agg(F.count("*").alias("c"))
    tot = terms.agg(F.count("*").alias("t"))
    j = (
        tf.join(n, "doc_id")
        .join(F.broadcast(freq), "termo")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("tf").cast("double") / F.col("n").cast("double")
    q = F.col("c").cast("double") / F.col("t").cast("double")
    ent_term = F.round(p * F.log(p), 6).cast(exact.DEC)
    kl_term = F.round(p * F.log(p / q), 6).cast(exact.DEC)
    return j.groupBy("doc_id").agg(
        F.max("n").alias("n_tokens"),
        (-F.sum(ent_term).cast("double")).alias("entropia"),
        F.sum(kl_term).cast("double").alias("kl_corpus"),
    )


LEXICAL_DIVERSITY_SQL = """
WITH terms AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS termo FROM documents
),
tf AS (SELECT doc_id, termo, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
n AS (SELECT doc_id, COUNT(*) AS n FROM terms GROUP BY 1),
freq AS (SELECT termo, COUNT(*) AS c FROM terms GROUP BY 1),
tot AS (SELECT COUNT(*) AS t FROM terms),
j AS (
    SELECT tf.doc_id,
           CAST(tf AS DOUBLE) / CAST(n AS DOUBLE) AS p,
           CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS q,
           n
    FROM tf JOIN n USING (doc_id) JOIN freq USING (termo), tot
)
SELECT doc_id,
       MAX(n) AS n_tokens,
       -CAST(SUM(CAST(ROUND(p * LN(p), 6) AS DECIMAL(28,6))) AS DOUBLE)
           AS entropia,
       CAST(SUM(CAST(ROUND(p * LN(p / q), 6) AS DECIMAL(28,6))) AS DOUBLE)
           AS kl_corpus
FROM j
GROUP BY doc_id
"""


#: feature-hash width for the linear classifier — fixed and
#: vocabulary-independent, the property that makes the model table's size
#: (and its broadcast) constant at any corpus scale.
CLF_BUCKETS = 4096

#: cross-engine feature hash: first 12 hex chars of md5(token) -> bigint
#: mod CLF_BUCKETS (same recipe as sampling.train_test_split_docs).
_FEAT_HASH = (
    f"pmod(cast(conv(substring(md5(termo), 1, 12), 16, 10) as bigint), "
    f"{CLF_BUCKETS})"
)
_FEAT_HASH_DUCK = (
    f"CAST(('0x' || substr(md5(termo), 1, 12)) AS BIGINT) % {CLF_BUCKETS}"
)

#: deployment-style keep fraction: rank by classifier score, keep the top
#: 40% (the CCNet/fastText quality-filter pattern — the decision is a
#: percentile cut, not a fixed logit threshold).
CLF_KEEP_FRACTION = 0.40


def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear text classifier over hashed bag-of-words features —
    fastText-style inference, with the weights trained in closed form on
    the corpus itself (Naive Bayes log-odds for `lang = 'en'` with +1
    smoothing over the hashed-feature space). The full train-then-score
    loop of a model-based quality filter, expressed as joins+aggregates:

    1. hash every token into a FIXED feature space (md5 -> mod 4096) —
       vocabulary-independent, so the model table is O(buckets) at any
       corpus size;
    2. per-feature log-odds weight from class-conditional counts
       (one shuffle over the exploded terms);
    3. per-doc score = length-normalized (prior + sum of per-token
       weights) — broadcast model join, exact decimal accumulation of
       6-rounded doubles;
    4. the filter decision the way these models are deployed (CCNet /
       fastText quality filtering): rank by score and KEEP the top
       fraction — the cut is an exact percentile scalar broadcast back,
       never a global sort or a driver collect.

    Scale shape: identical to tfidf_terms — explode, one fixed-width
    (bucket-count) aggregate, broadcast model back onto the term stream,
    per-doc agg, scalar-broadcast threshold. No reference equivalent;
    this is the model-inference stage of the training-data curation
    family.
    """
    d = _docs(spark, sf_dir)
    terms = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_en"),
        F.explode("toks").alias("termo"),
    ).withColumn("feat", F.expr(_FEAT_HASH))
    counts = terms.groupBy("feat").agg(
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("c_en"),
        F.sum(F.when(F.col("is_en"), 0).otherwise(1)).alias("c_other"),
    )
    totals = terms.agg(
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("n_en"),
        F.sum(F.when(F.col("is_en"), 0).otherwise(1)).alias("n_other"),
    )
    w = (
        counts.crossJoin(F.broadcast(totals))
        .withColumn(
            "peso",
            F.round(
                F.log(
                    (F.col("c_en") + F.lit(1)).cast("double")
                    / (F.col("n_en") + F.lit(CLF_BUCKETS)).cast("double")
                )
                - F.log(
                    (F.col("c_other") + F.lit(1)).cast("double")
                    / (F.col("n_other") + F.lit(CLF_BUCKETS)).cast("double")
                ),
                6,
            ),
        )
        .select("feat", "peso")
    )
    # prior guarded on BOTH class counts > 0: a single-class corpus would
    # yield +-Infinity in Spark vs NULL/error in DuckDB — the same
    # divergence class the mad > 0 / den > 0 guards close elsewhere.
    docs_prior = d.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nd_en"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).alias("nd_ot"),
    ).select(
        F.when(
            (F.col("nd_en") > 0) & (F.col("nd_ot") > 0),
            F.round(
                F.log(
                    F.col("nd_en").cast("double")
                    / F.col("nd_ot").cast("double")
                ),
                6,
            ),
        ).alias("prior")
    )
    # score stays an UNROUNDED double: the numerator is a 6-grid decimal
    # and the denominator an integer count, so the quotient is an exact
    # rational — ROUND(.,6) landed on the .5-at-digit-7 boundary at
    # sf0.1 (2 of 5000 rows split Spark's BigDecimal rounding from
    # DuckDB's multiply). The raw division of term-identical doubles is
    # IEEE-bit-identical in both engines.
    from banking_streaming_etl_spark.operators import ranking

    scored = (
        terms.join(F.broadcast(w), "feat")
        .groupBy("doc_id", "is_en")
        .agg(
            F.count("*").alias("n_tokens"),
            exact.exact_sum(F.col("peso"), "soma_pesos"),
        )
        .crossJoin(F.broadcast(docs_prior))
        .select(
            "doc_id",
            "is_en",
            (
                (F.col("prior") + F.col("soma_pesos").cast("double"))
                / F.col("n_tokens").cast("double")
            ).alias("score"),
        )
        # EAGER barrier, not a lazy persist: the distributed-ranking pass
        # below scans this frame in its count/sample stages BEFORE a lazy
        # cache would have materialized, re-deriving the whole
        # terms-join-groupBy graph per stage (the round-7 interarrival
        # lesson).
        .localCheckpoint(eager=True)
    )
    # the cut is the EXACT order statistic at rank ceil(q*N) under
    # (score ASC, doc_id ASC) — a selection, never an interpolation
    # (QUANTILE_CONT's a+f*(b-a) arithmetic is not pinned cross-engine
    # on unrounded doubles), and never a single-task value buffer (the
    # old exact `percentile` aggregate buffered every score in one
    # task — the A2 lesson applied).
    ranked = ranking.with_global_row_number(
        scored, "score", "doc_id", out="_r", nulls="first"
    )
    cut = (
        ranked.filter(
            F.col("_r")
            == F.ceil(
                F.lit(1.0 - CLF_KEEP_FRACTION) * F.col("_rank_n_total")
            ).cast("bigint")
        )
        .select(F.col("score").alias("corte"))
    )
    return (
        scored.crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "is_en",
            "score",
            (F.col("score") >= F.col("corte")).alias("selecionado"),
        )
    )


QUALITY_CLASSIFIER_SQL = f"""
WITH terms AS (
    SELECT doc_id, lang = 'en' AS is_en,
           {_FEAT_HASH_DUCK} AS feat
    FROM (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS termo
        FROM documents
    )
),
counts AS (
    SELECT feat,
           SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS c_en,
           SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS c_other
    FROM terms GROUP BY feat
),
totals AS (
    SELECT SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS n_en,
           SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS n_other
    FROM terms
),
w AS (
    SELECT feat,
           ROUND(LN(CAST(c_en + 1 AS DOUBLE)
                    / CAST(n_en + {CLF_BUCKETS} AS DOUBLE))
                 - LN(CAST(c_other + 1 AS DOUBLE)
                      / CAST(n_other + {CLF_BUCKETS} AS DOUBLE)), 6) AS peso
    FROM counts, totals
),
prior AS (
    SELECT CASE
               WHEN nd_en > 0 AND nd_ot > 0
               THEN ROUND(LN(CAST(nd_en AS DOUBLE)
                             / CAST(nd_ot AS DOUBLE)), 6)
           END AS prior
    FROM (
        SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nd_en,
               SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nd_ot
        FROM documents
    )
),
scored AS (
    SELECT doc_id, is_en,
           (prior + CAST(soma_pesos AS DOUBLE))
               / CAST(n_tokens AS DOUBLE) AS score
    FROM (
        SELECT doc_id, is_en, COUNT(*) AS n_tokens,
               {exact.sql_sum("peso", "soma_pesos")}
        FROM terms JOIN w USING (feat)
        GROUP BY doc_id, is_en
    ), prior
),
cut AS (
    SELECT score AS corte
    FROM (
        SELECT score,
               ROW_NUMBER() OVER (ORDER BY score ASC NULLS FIRST,
                                  doc_id ASC) AS r,
               COUNT(*) OVER () AS n
        FROM scored
    )
    WHERE r = CAST(CEIL({1.0 - CLF_KEEP_FRACTION} * n) AS BIGINT)
)
SELECT doc_id, is_en, score, score >= corte AS selecionado
FROM scored, cut
"""


#: fixed retrieval query for the BM25 ranking op (frequent corpus tokens,
#: so every sf has matches).
BM25_QUERY = ("scan", "window", "join")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 scored frame (doc_id, termos_casados, score_bm25) for
    EVERY document matching >= 1 query term — the single derivation
    behind bm25_topk and ndcg_at_k (CLAUDE.md: shared derivations live
    once). See bm25_topk for the formula and the scale shape."""
    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode("toks").alias("termo"))
    qterms = terms.filter(F.col("termo").isin(*BM25_QUERY))
    tf = qterms.groupBy("doc_id", "termo").agg(F.count("*").alias("tf"))
    df_ = qterms.select("doc_id", "termo").distinct().groupBy("termo").agg(
        F.count("*").alias("df")
    )
    lens = terms.groupBy("doc_id").agg(F.count("*").alias("len_d"))
    stats = lens.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("len_d").cast("double")).alias("avg_len"),
    )
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tfd = F.col("tf").cast("double")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B)
        * F.col("len_d").cast("double")
        / F.col("avg_len")
    )
    contrib = F.round(idf * tfd * F.lit(BM25_K1 + 1.0) / (tfd + norm), 6)
    return (
        tf.join(F.broadcast(df_), "termo")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("termos_casados"),
            exact.exact_sum(F.col("contrib"), "score_bm25"),
        )
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson/Sparck Jones): rank documents for a fixed
    query term set, return the top-K with per-doc scores.

        score(d) = sum over query terms t of
            idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * len_d/avg_len))
        idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))

    Retrieval is the read side of the chunk/pack pipeline (RAG over the
    curated corpus). Scale shape: the posting list for the query terms is
    a FILTERED doc-term aggregate (only query terms survive the first
    shuffle — predicate pushed below the groupBy), document lengths ride
    the token_counts aggregate, df/N/avg_len are tiny broadcasts, and the
    final top-K is a TakeOrderedAndProject. Every float term is 6-rounded
    and ordered identically in both dialects; ties break on doc_id.
    """
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_bm25"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
        .select("doc_id", "termos_casados", "score_bm25")
    )


def _bm25_scored_ctes() -> str:
    """The shared DuckDB CTE chain producing `scored` (doc_id,
    termos_casados, score_bm25) — the SQL twin of `_bm25_scored`, reused
    by BM25_SQL and NDCG_AT_K_SQL so the derivation never forks."""
    qlist = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH terms AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS termo FROM documents
),
qterms AS (SELECT * FROM terms WHERE termo IN ({qlist})),
tf AS (SELECT doc_id, termo, COUNT(*) AS tf FROM qterms GROUP BY 1, 2),
df AS (
    SELECT termo, COUNT(*) AS df
    FROM (SELECT DISTINCT doc_id, termo FROM qterms) GROUP BY termo
),
lens AS (SELECT doc_id, COUNT(*) AS len_d FROM terms GROUP BY doc_id),
stats AS (
    SELECT COUNT(*) AS n_docs, AVG(CAST(len_d AS DOUBLE)) AS avg_len
    FROM lens
),
scored AS (
    SELECT doc_id, COUNT(*) AS termos_casados,
           {exact.sql_sum(
               f"ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)"
               f" + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
               f" * CAST(tf AS DOUBLE) * {BM25_K1 + 1.0}"
               f" / (CAST(tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B}"
               f" + {BM25_B} * CAST(len_d AS DOUBLE) / avg_len)), 6)",
               "score_bm25")}
    FROM tf JOIN df USING (termo) JOIN lens USING (doc_id), stats
    GROUP BY doc_id
)"""


def _bm25_sql() -> str:
    return f"""{_bm25_scored_ctes()}
SELECT doc_id, termos_casados, score_bm25
FROM scored
ORDER BY score_bm25 DESC, doc_id ASC
LIMIT {BM25_TOP_K}
"""


BM25_SQL = _bm25_sql()


#: NDCG evaluation cutoffs; max(K) bounds every ranked frame below.
NDCG_KS = (5, 10, 20)

#: held-out relevance term set for the NDCG judgments — deliberately
#: DISJOINT from BM25_QUERY so the graded judgments are independent of
#: the ranker's own signal (judgments derived from termos_casados made
#: NDCG identically 1.0 — a degenerate eval).
NDCG_REL_TERMS = ("filter", "merge", "sort")


def _rel_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide (doc_id, ganho) graded-gain frame over the held-out
    NDCG_REL_TERMS judgments: rel(d) = number of distinct relevance
    terms present (1..3; grade-0 docs are omitted — consumers LEFT JOIN
    and COALESCE to 0), graded gain 2^rel - 1 via an exact integer CASE
    ladder (no pow()). Shared by ndcg_at_k and hybrid_ndcg_eval so both
    evals grade against the SAME judgments."""
    rel = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("termo"))
        .filter(F.col("termo").isin(*NDCG_REL_TERMS))
        .select("doc_id", "termo")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("rel"))
    )
    gain = (
        F.when(F.col("rel") == 1, 1)
        .when(F.col("rel") == 2, 3)
        .when(F.col("rel") == 3, 7)
        .otherwise(0)
        .cast("bigint")
    )
    return rel.select("doc_id", gain.alias("ganho"))


def _ndcg_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (doc_id, score_bm25, ganho) candidate frame the
    NDCG rankings read. Eager barrier: BOTH rankings (system + ideal)
    consume it — without it each TakeOrdered branch re-derives the
    whole BM25 aggregate chain (the round-7 interarrival lesson: eager
    localCheckpoint, not lazy persist, ahead of a second ranking pass).
    Module-level so bench's _warm_family_memos can materialize it once
    before the EXTRA sweep, matching the _cal_rank/_km_risk_table
    precedent."""
    from banking_streaming_etl_spark.operators import memo

    return memo.shared_frame(
        spark,
        sf_dir,
        "ndcg_candidates",
        lambda: (
            _bm25_scored(spark, sf_dir)
            .join(_rel_gains(spark, sf_dir), "doc_id", "left")
            .select(
                "doc_id",
                "score_bm25",
                F.coalesce(F.col("ganho"), F.lit(0).cast("bigint")).alias(
                    "ganho"
                ),
            )
        ),
    )


def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@K of the BM25 ranking (Järvelin & Kekäläinen) — the
    retrieval-eval companion of precision_recall_at_k for the RAG read
    stack. Relevance judgments are deterministic term-overlap grades
    against the HELD-OUT NDCG_REL_TERMS set (disjoint from the query, so
    the judgments are independent of the ranker's signal): rel(d) =
    number of distinct relevance terms present (0..3), graded gain
    2^rel - 1 via an exact integer CASE ladder (no pow()).

        DCG@K  = sum_{r<=K} gain(d_r) / log2(r + 1)   (system order:
                 score_bm25 DESC, doc_id ASC — the bm25_topk total order)
        IDCG@K = same sum under the ideal order (rel DESC, doc_id ASC)
        NDCG@K = DCG@K / IDCG@K

    Engine parity: each DCG term is ROUND(.,6) and accumulated in
    DECIMAL (log2 is a transcendental VALUE, never a key); the NDCG
    ratio is a single IEEE division of two decimal-exact doubles,
    deliberately NOT re-rounded (dcg/idcg are exact 1e-6 multiples, so
    a ROUND would sit on the .5 boundary — the exact-rational hazard).
    The division is guarded to NULL when IDCG is absent/zero (empty
    candidate set: Spark ANSI throws on x/0 where DuckDB yields inf).
    Scale: candidates collapse to one filtered aggregate (the shared
    BM25 frame); both rankings are TakeOrdered top-max(K) (bounded), so
    the row_number windows run over <= max(K) rows — whitelisted in
    tests/test_plan_shapes.py with that boundedness argument.
    """
    from pyspark.sql import Window

    max_k = max(NDCG_KS)
    cand = _ndcg_candidates(spark, sf_dir)
    sys_top = cand.orderBy(F.desc("score_bm25"), F.asc("doc_id")).limit(max_k)
    sys_ranked = sys_top.select(
        "ganho",
        F.row_number()
        .over(Window.orderBy(F.desc("score_bm25"), F.asc("doc_id")))
        .alias("r"),
    )
    ideal_top = cand.orderBy(F.desc("ganho"), F.asc("doc_id")).limit(max_k)
    ideal_ranked = ideal_top.select(
        "ganho",
        F.row_number()
        .over(Window.orderBy(F.desc("ganho"), F.asc("doc_id")))
        .alias("r"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in NDCG_KS])).alias("k")
    )
    term = F.round(
        F.col("ganho").cast("double")
        / F.log2((F.col("r") + F.lit(1)).cast("double")),
        6,
    ).cast(exact.DEC)

    def _dcg(
        ranked: DataFrame, alias: str, with_rel_stats: bool = True
    ) -> DataFrame:
        # the ideal-ranking pass needs only the IDCG sum — the
        # relevance-position aggregates are meaningful for the SYSTEM
        # order alone, so they are not computed for the ideal pass
        aggs = [
            F.count("r").alias(f"n_{alias}"),
            F.sum(term).cast("double").alias(alias),
        ]
        if with_rel_stats:
            aggs += [
                F.count(F.when(F.col("ganho") > 0, 1)).alias(
                    f"n_rel_{alias}"
                ),
                F.min(F.when(F.col("ganho") > 0, F.col("r"))).alias(
                    f"first_rel_{alias}"
                ),
            ]
        # ranked is a <= top-K-row list — explicitly broadcast so the
        # theta join is a BroadcastNestedLoopJoin by construction,
        # never a planner-estimated shuffle (round-15, guide §3.1)
        return (
            ks.join(F.broadcast(ranked), F.col("r") <= F.col("k"), "left")
            .groupBy("k")
            .agg(*aggs)
        )
    d = _dcg(sys_ranked, "dcg")
    i = _dcg(ideal_ranked, "idcg", with_rel_stats=False).select("k", "idcg")
    # total relevant docs in the candidate set (recall denominator) —
    # one broadcast scalar; exact-rational ratios below stay un-rounded
    # (IEEE division of exact integers is bit-identical cross-engine)
    rel_total = cand.agg(
        F.count(F.when(F.col("ganho") > 0, 1)).alias("rel_total")
    )
    return (
        d.join(i, "k")
        .crossJoin(F.broadcast(rel_total))
        .select(
            "k",
            F.col("n_dcg").alias("n_sistema"),
            "dcg",
            "idcg",
            F.when(
                F.col("idcg").isNotNull() & (F.col("idcg") > 0.0),
                F.col("dcg") / F.col("idcg"),
            ).alias("ndcg"),
            F.col("n_rel_dcg").alias("n_relevantes_topk"),
            F.when(
                F.col("rel_total") > 0,
                F.col("n_rel_dcg").cast("double")
                / F.col("rel_total").cast("double"),
            ).alias("revocacao"),
            F.when(
                F.col("first_rel_dcg").isNotNull(),
                F.lit(1.0) / F.col("first_rel_dcg").cast("double"),
            ).alias("rr_primeiro_relevante"),
        )
        .orderBy("k")
    )


def _ndcg_sql() -> str:
    ks = ", ".join(str(k) for k in NDCG_KS)
    rlist = ", ".join(f"'{t}'" for t in NDCG_REL_TERMS)
    max_k = max(NDCG_KS)
    term = (
        "CAST(ROUND(CAST(ganho AS DOUBLE)"
        " / LOG2(CAST(r + 1 AS DOUBLE)), 6) AS DECIMAL(28,6))"
    )
    return f"""{_bm25_scored_ctes()},
rel AS (
    SELECT doc_id, COUNT(*) AS rel
    FROM (SELECT DISTINCT doc_id, termo FROM terms
          WHERE termo IN ({rlist}))
    GROUP BY doc_id
),
cand AS (
    SELECT doc_id, score_bm25,
           CAST(CASE COALESCE(rel, 0) WHEN 1 THEN 1 WHEN 2 THEN 3
                WHEN 3 THEN 7 ELSE 0 END AS BIGINT) AS ganho
    FROM scored LEFT JOIN rel USING (doc_id)
),
sys_ranked AS (
    SELECT ganho, ROW_NUMBER() OVER (ORDER BY score_bm25 DESC,
                                     doc_id ASC) AS r
    FROM cand QUALIFY r <= {max_k}
),
ideal_ranked AS (
    SELECT ganho, ROW_NUMBER() OVER (ORDER BY ganho DESC,
                                     doc_id ASC) AS r
    FROM cand QUALIFY r <= {max_k}
),
ks AS (SELECT unnest([{ks}]) AS k),
d AS (
    SELECT k, CAST(COUNT(r) AS BIGINT) AS n_sistema,
           CAST(SUM({term}) AS DOUBLE) AS dcg,
           CAST(COUNT(CASE WHEN ganho > 0 THEN 1 END) AS BIGINT)
               AS n_rel_topk,
           MIN(CASE WHEN ganho > 0 THEN r END) AS first_rel
    FROM ks LEFT JOIN sys_ranked ON r <= k GROUP BY k
),
i AS (
    SELECT k, CAST(SUM({term}) AS DOUBLE) AS idcg
    FROM ks LEFT JOIN ideal_ranked ON r <= k GROUP BY k
),
tot AS (
    SELECT CAST(COUNT(CASE WHEN ganho > 0 THEN 1 END) AS BIGINT)
        AS rel_total
    FROM cand
)
SELECT k, n_sistema, dcg, idcg,
       CASE WHEN idcg IS NOT NULL AND idcg > 0.0
            THEN dcg / idcg END AS ndcg,
       n_rel_topk AS n_relevantes_topk,
       CASE WHEN rel_total > 0
            THEN CAST(n_rel_topk AS DOUBLE) / CAST(rel_total AS DOUBLE)
            END AS revocacao,
       CASE WHEN first_rel IS NOT NULL
            THEN 1.0 / CAST(first_rel AS DOUBLE)
            END AS rr_primeiro_relevante
FROM d JOIN i USING (k), tot
ORDER BY k
"""


NDCG_AT_K_SQL = _ndcg_sql()


# --- collocation mining: bigram PMI ------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP_K = 50


def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top adjacent-token bigrams by pointwise mutual
    information, PMI = ln(P(ab) / (P(a) P(b))) — the phrase detector a
    tokenizer/vocab pipeline runs before merging multiword units.

    Scale shape: bigram extraction is the same zip-of-adjacent map as the
    bigram LM (narrow); one shuffle for bigram counts, one for unigram
    counts; the unigram table joins back twice by key (broadcast while
    vocabulary-sized); min-count pruning happens before the joins so the
    tail never travels. Top-K is a TakeOrderedAndProject with the bigram
    text as tiebreak."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", "toks")
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    totals = uni.agg(
        F.sum("cw").alias("n_uni")
    )
    bg_counts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= PMI_MIN_COUNT)
    )
    n_bg = bigrams.agg(F.count("*").alias("n_bg"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("cb").cast("double") / F.col("n_bg").cast("double"))
            / (
                (F.col("c1").cast("double") / F.col("n_uni").cast("double"))
                * (F.col("c2").cast("double") / F.col("n_uni").cast("double"))
            )
        ),
        6,
    )
    return (
        bg_counts.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_bg))
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "cb", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP_K)
    )


COLLOCATIONS_PMI_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bigrams AS (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
),
uni AS (
    SELECT w, COUNT(*) AS cw
    FROM (SELECT unnest(t) AS w FROM toks)
    GROUP BY w
),
totals AS (SELECT SUM(cw) AS n_uni FROM uni),
bg_counts AS (
    SELECT w1, w2, COUNT(*) AS cb FROM bigrams GROUP BY w1, w2
    HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
n_bg AS (SELECT COUNT(*) AS n_bg FROM bigrams)
SELECT w1, w2, cb,
       ROUND(LN((CAST(cb AS DOUBLE) / CAST(n_bg AS DOUBLE))
                / ((CAST(c1 AS DOUBLE) / CAST(n_uni AS DOUBLE))
                   * (CAST(c2 AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6) AS pmi
FROM bg_counts
JOIN (SELECT w AS w1, cw AS c1 FROM uni) USING (w1)
JOIN (SELECT w AS w2, cw AS c2 FROM uni) USING (w2)
CROSS JOIN n_bg CROSS JOIN totals
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {PMI_TOP_K}
"""


# --- corpus-statistics: Zipf fit ---------------------------------------------

ZIPF_TOP_N = 1000


def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution: regress
    log10(freq) on log10(rank) over the top-N tokens — the one-row
    corpus health check (natural language sits near slope -1; generated
    or templated text drifts flatter). Reuses the exact-moment
    regression, so the fit is bit-identical cross-engine.

    Scale shape: one shuffle for the frequency table; the top-N cut is a
    TakeOrderedAndProject (per-partition heaps + a bounded merge — never
    a global sort of the vocabulary, which is 10^8+ rows at 100 TB of
    noisy text); the rank window then runs over the <= N surviving rows
    (the hybrid_retrieval_rrf dense-list pattern); the regression is one
    aggregate over N rows."""
    d = _docs(spark, sf_dir)
    freq = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window as W

    ranked = (
        freq.orderBy(F.desc("c"), F.asc("w"))
        .limit(ZIPF_TOP_N)
        .withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.desc("c"), F.asc("w"))),
        )
        .select(
            F.log10(F.col("rank").cast("double")).alias("lx"),
            F.log10(F.col("c").cast("double")).alias("ly"),
        )
    )
    slope, icept = exact.exact_regr("lx", "ly", "raw_slope", "raw_icept")
    return ranked.agg(
        F.count("*").alias("n_tokens_fit"), slope, icept
    ).select(
        "n_tokens_fit",
        F.round("raw_slope", 6).alias("zipf_slope"),
        F.round("raw_icept", 6).alias("zipf_intercept"),
    )


ZIPF_FIT_SQL = f"""
WITH freq AS (
    SELECT w, COUNT(*) AS c
    FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    )
    GROUP BY w
),
ranked AS (
    SELECT LOG10(CAST(rank AS DOUBLE)) AS lx, LOG10(CAST(c AS DOUBLE)) AS ly
    FROM (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rank
        FROM freq
    )
    WHERE rank <= {ZIPF_TOP_N}
)
SELECT n_tokens_fit,
       ROUND(raw_slope, 6) AS zipf_slope,
       ROUND(raw_icept, 6) AS zipf_intercept
FROM (
    SELECT COUNT(*) AS n_tokens_fit,
           {exact.sql_regr('lx', 'ly', 'raw_slope', 'raw_icept')}
    FROM ranked
)
"""


# --- feature-hashed document embedding ---------------------------------------

#: dimensionality of the hashed bag-of-words embedding. A power of two so
#: the md5-derived bucket is uniform; small enough that the exploded
#: output stays docs x <= EMBED_DIM rows.
EMBED_DIM = 32
_EMBED_HASH = (
    f"pmod(cast(conv(substring(md5(termo), 1, 12), 16, 10) as bigint), "
    f"{EMBED_DIM})"
)
_EMBED_HASH_DUCK = (
    f"CAST(('0x' || substr(md5(termo), 1, 12)) AS BIGINT) % {EMBED_DIM}"
)


def hash_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embedder (Weinberger et al. 2009): token ->
    md5-derived bucket in [0, EMBED_DIM), value = bucket count
    L2-normalized — the deterministic, model-free featurizer that bridges
    `documents` to the vector operators (ANN / centroids / JL / semantic
    dedup all consume such vectors) when no learned embedder is in the
    loop. Output exploded to (doc_id, pos, valor) rows (array columns
    don't canonicalize in the driver compare).

    Scale shape: explode -> one (doc_id, pos) count aggregate -> per-doc
    norm aggregate -> narrow join back; counts are exact integers so the
    only doubles are the final sqrt/divide, term-identical in both
    dialects. Same portable hash recipe as the quality classifier's
    feature buckets."""
    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode("toks").alias("termo"))
    counts = (
        terms.withColumn("pos", F.expr(_EMBED_HASH))
        .groupBy("doc_id", "pos")
        .agg(F.count("*").alias("c"))
    )
    norms = counts.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("norm")
    )
    return counts.join(norms, "doc_id").select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.round(F.col("c").cast("double") / F.col("norm"), 6).alias("valor"),
    )


HASH_EMBED_SQL = f"""
WITH terms AS (
    SELECT doc_id, {_EMBED_HASH_DUCK} AS pos
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS termo
        FROM documents
    )
),
counts AS (
    SELECT doc_id, pos, CAST(COUNT(*) AS BIGINT) AS c
    FROM terms GROUP BY doc_id, pos
),
norms AS (
    SELECT doc_id, SQRT(CAST(SUM(c * c) AS DOUBLE)) AS norm
    FROM counts GROUP BY doc_id
)
SELECT counts.doc_id, pos,
       ROUND(CAST(c AS DOUBLE) / norm, 6) AS valor
FROM counts JOIN norms ON counts.doc_id = norms.doc_id
"""


# --- BPE vocabulary induction: first merge iteration -------------------------

#: how many top adjacent-pairs the induction step reports (a real BPE
#: trainer would merge rank 1 and iterate; the per-iteration counting
#: below is the expensive distributed part, the merge loop is driver-side
#: bookkeeping over the vocabulary).
BPE_PAIR_TOP = 40


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE tokenizer training (Sennrich et al. 2016):
    corpus word frequencies, words split to character symbols, adjacent
    symbol pairs counted weighted by word frequency — the top pair is the
    next merge rule. The missing piece of the tokenizer family
    (token_counts_bpe APPLIES a BPE-ish tokenizer; this trains one).

    Scale shape: pair counting runs over the WORD-FREQUENCY table (the
    vocabulary — sublinear in corpus size), not the corpus: one corpus
    shuffle for word counts, then a vocabulary-sized explode + groupBy,
    then TakeOrdered top-N. The same shape holds for later iterations
    (re-segment the vocabulary against merged symbols, recount)."""
    d = datamodel.load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    pairs = wf.select(
        "f",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> struct(substring(w, i, 1) AS a, "
                "substring(w, i + 1, 1) AS b))"
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("f").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("a"), F.asc("b"))
        .limit(BPE_PAIR_TOP)
    )


BPE_PAIR_COUNTS_SQL = f"""
WITH words AS (
    SELECT w, COUNT(*) AS f
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
    WHERE length(w) >= 2
    GROUP BY 1
),
pairs AS (
    SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                                 i -> substring(w, i, 1))) AS a,
           unnest(list_transform(generate_series(1, length(w) - 1),
                                 i -> substring(w, i + 1, 1))) AS b,
           f
    FROM words
)
SELECT a, b, CAST(SUM(f) AS BIGINT) AS freq
FROM pairs
GROUP BY 1, 2
ORDER BY freq DESC, a ASC, b ASC
LIMIT {BPE_PAIR_TOP}
"""


# --- hybrid retrieval: lexical BM25 + dense feature-hash, RRF-fused ----------

#: reciprocal-rank-fusion constant (Cormack et al. 2009's k=60).
RRF_K = 60
#: how many candidates each retriever contributes to the fusion.
DENSE_TOP_K = BM25_TOP_K
HYBRID_TOP_K = 10


def _dense_query_vec(spark: SparkSession) -> DataFrame:
    """The fixed BM25_QUERY term set as an L2-normalized feature-hash
    vector (pos, qval) — the broadcast side of every dense-retrieval
    scorer (hybrid RRF, MMR). Lives ONCE per the shared-derivation
    invariant."""
    q = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in BM25_QUERY])).alias("termo")
    )
    qpos = q.select(F.expr(_EMBED_HASH).alias("pos")).groupBy("pos").agg(
        F.count("*").alias("qc")
    )
    qnorm = qpos.agg(
        F.sqrt(F.sum(F.col("qc") * F.col("qc")).cast("double")).alias("qn")
    )
    return qpos.crossJoin(qnorm).select(
        F.col("pos").cast("bigint").alias("pos"),
        F.round(F.col("qc").cast("double") / F.col("qn"), 6).alias("qval"),
    )


def _dense_query_scores(spark: SparkSession, vecs: DataFrame) -> DataFrame:
    """Per-doc dense relevance vs the fixed query vector: a broadcast
    equi-join on the hash position + a decimal-exact dot aggregate."""
    return (
        vecs.join(F.broadcast(_dense_query_vec(spark)), "pos")
        .groupBy("doc_id")
        .agg(exact.exact_sum(F.col("valor") * F.col("qval"), "cos_dense"))
    )


def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal rank fusion (Cormack et al. 2009):
    the BM25 lexical top-K and a dense top-K (cosine between the
    feature-hashed doc vectors and the feature-hashed QUERY vector, same
    recipe as hash_embed_documents) fuse by
    rrf(d) = sum over lists of 1 / (RRF_K + rank_d) — the standard RAG
    retrieval stack (sparse + dense + fusion) with no learned model in
    the loop, so every rank and score is deterministic and
    oracle-checkable.

    Scale shape: both candidate lists are TakeOrdered top-Ks (no global
    sort); the rank windows then run over <= K rows each; the dense
    score is an equi-join of the (doc_id, pos) vector table against a
    broadcast 32-row query vector with a decimal-exact dot aggregate.
    RRF terms are exact rationals (1/(60+r)) — bit-identical across
    engines, so the fused ORDER BY cannot tie-flip."""
    from pyspark.sql import Window as W

    lex = bm25_topk(spark, sf_dir)
    wlex = W.orderBy(F.desc("score_bm25"), F.asc("doc_id"))
    lex_ranked = lex.select(
        "doc_id", F.row_number().over(wlex).cast("bigint").alias("r_lex")
    )

    vecs = hash_embed_documents(spark, sf_dir)
    dense = _dense_query_scores(spark, vecs)
    wdense = W.orderBy(F.desc("cos_dense"), F.asc("doc_id"))
    dense_ranked = (
        dense.orderBy(F.desc("cos_dense"), F.asc("doc_id"))
        .limit(DENSE_TOP_K)
        .select(
            "doc_id",
            F.row_number().over(wdense).cast("bigint").alias("r_dense"),
        )
    )
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("r_dense")), F.lit(0.0)
        ),
        6,
    )
    # FULL OUTER equi-join on a key unique in both lists == union +
    # per-key MAX (each doc contributes at most one row per side,
    # non-null exactly in its own rank column) — Spark can't broadcast a
    # full-outer hash join, so the join form planned as SortMergeJoin
    # with two Exchanges + Sorts of the <= K-row lists; the union
    # aggregate is ONE exchange and no sort (round-15, guide §2.4). The
    # oracle keeps its FULL OUTER JOIN text — values are identical.
    fused = (
        lex_ranked.select(
            "doc_id", "r_lex", F.lit(None).cast("bigint").alias("r_dense")
        )
        .unionAll(
            dense_ranked.select(
                "doc_id",
                F.lit(None).cast("bigint").alias("r_lex"),
                "r_dense",
            )
        )
        .groupBy("doc_id")
        .agg(
            F.max("r_lex").alias("r_lex"),
            F.max("r_dense").alias("r_dense"),
        )
    )
    return (
        fused.select("doc_id", "r_lex", "r_dense", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(HYBRID_TOP_K)
    )


def _hybrid_rrf_sql() -> str:
    qlist = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH lex AS ({_bm25_sql()}),
lex_ranked AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY score_bm25 DESC, doc_id ASC)
                AS BIGINT) AS r_lex
    FROM lex
),
vecs AS ({HASH_EMBED_SQL}),
qterms AS (SELECT unnest([{qlist}]) AS termo),
qpos AS (
    SELECT {_EMBED_HASH_DUCK} AS pos, COUNT(*) AS qc FROM qterms GROUP BY 1
),
qnorm AS (SELECT SQRT(CAST(SUM(qc * qc) AS DOUBLE)) AS qn FROM qpos),
qvec AS (
    SELECT CAST(pos AS BIGINT) AS pos,
           ROUND(CAST(qc AS DOUBLE) / qn, 6) AS qval
    FROM qpos, qnorm
),
dense AS (
    SELECT doc_id, {exact.sql_sum("valor * qval", "cos_dense")}
    FROM vecs JOIN qvec USING (pos) GROUP BY doc_id
),
dense_top AS (
    SELECT doc_id, cos_dense FROM dense
    ORDER BY cos_dense DESC, doc_id ASC LIMIT {DENSE_TOP_K}
),
dense_ranked AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY cos_dense DESC, doc_id ASC)
                AS BIGINT) AS r_dense
    FROM dense_top
)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
       ROUND(COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
             + COALESCE(1.0 / ({RRF_K} + d.r_dense), 0.0), 6) AS rrf
FROM lex_ranked l FULL OUTER JOIN dense_ranked d ON l.doc_id = d.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {HYBRID_TOP_K}
"""


HYBRID_RRF_SQL = _hybrid_rrf_sql()


#: hybrid-eval cutoffs — bounded by HYBRID_TOP_K (the fused list is
#: only that long, so deeper Ks would grade padding, not ranking).
HYBRID_EVAL_KS = (5, 10)


def hybrid_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-eval capstone (round-10 verdict task #7): NDCG@K of
    the hybrid RRF fusion vs the BM25-only ranking over the SAME
    held-out NDCG_REL_TERMS judgments (_rel_gains), quantifying what
    dense fusion buys. One row per K in HYBRID_EVAL_KS with both
    systems' DCG/NDCG, the shared corpus-wide IDCG denominator, the
    NDCG delta, and each system's relevant-docs-in-top-K count.

    The IDCG is the ideal ranking over the CORPUS-WIDE graded docs (not
    either system's candidate pool) so both systems are normalized by
    the same attainable maximum — the standard cross-system eval
    denominator. The hybrid list can surface docs outside the BM25
    candidate set (the dense arm's hash-feature matches), so grades
    come from the corpus-wide gains frame via LEFT JOIN + COALESCE 0 in
    BOTH dialects.

    Engine parity: DCG terms are ROUND(.,6) accumulated in DECIMAL
    (ndcg_at_k's recipe); each NDCG is ONE IEEE division of
    decimal-exact doubles, guarded to NULL when IDCG is absent/zero;
    the delta is ONE IEEE subtraction of those unrounded ratios
    (exact-rational hazard: a ROUND would sit on the .5 boundary).
    Scale: all three rankings are TakeOrdered top-HYBRID_TOP_K, so
    every row_number window runs over <= 10 rows — whitelisted in
    tests/test_plan_shapes.py with that boundedness argument.
    """
    from pyspark.sql import Window

    max_k = HYBRID_TOP_K
    gains = _rel_gains(spark, sf_dir)
    cand = _ndcg_candidates(spark, sf_dir)

    bm25_top = cand.orderBy(
        F.desc("score_bm25"), F.asc("doc_id")
    ).limit(max_k)
    bm25_ranked = bm25_top.select(
        "ganho",
        F.row_number()
        .over(Window.orderBy(F.desc("score_bm25"), F.asc("doc_id")))
        .alias("r"),
    )
    hyb = hybrid_retrieval_rrf(spark, sf_dir)
    hyb_ranked = hyb.join(gains, "doc_id", "left").select(
        F.coalesce(F.col("ganho"), F.lit(0).cast("bigint")).alias("ganho"),
        F.row_number()
        .over(Window.orderBy(F.desc("rrf"), F.asc("doc_id")))
        .alias("r"),
    )
    ideal_top = gains.orderBy(F.desc("ganho"), F.asc("doc_id")).limit(max_k)
    ideal_ranked = ideal_top.select(
        "ganho",
        F.row_number()
        .over(Window.orderBy(F.desc("ganho"), F.asc("doc_id")))
        .alias("r"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in HYBRID_EVAL_KS])).alias("k")
    )
    term = F.round(
        F.col("ganho").cast("double")
        / F.log2((F.col("r") + F.lit(1)).cast("double")),
        6,
    ).cast(exact.DEC)

    def _dcg(ranked: DataFrame, alias: str, with_rel: bool) -> DataFrame:
        aggs = [F.sum(term).cast("double").alias(alias)]
        if with_rel:
            aggs.append(
                F.count(F.when(F.col("ganho") > 0, 1)).alias(
                    f"n_rel_{alias}"
                )
            )
        # ranked is a <= top-K-row list — explicitly broadcast so the
        # theta join is a BroadcastNestedLoopJoin by construction,
        # never a planner-estimated shuffle (round-15, guide §3.1)
        return (
            ks.join(F.broadcast(ranked), F.col("r") <= F.col("k"), "left")
            .groupBy("k")
            .agg(*aggs)
        )

    b = _dcg(bm25_ranked, "dcg_bm25", with_rel=True)
    h = _dcg(hyb_ranked, "dcg_hibrido", with_rel=True)
    i = _dcg(ideal_ranked, "idcg", with_rel=False).select("k", "idcg")
    ndcg_of = lambda c: F.when(  # noqa: E731 — tiny guarded-div factory
        F.col("idcg").isNotNull() & (F.col("idcg") > 0.0),
        F.col(c) / F.col("idcg"),
    )
    # h/i are len(HYBRID_EVAL_KS)-row aggregates — broadcast both so the
    # final assembly is two BroadcastHashJoins, not SortMergeJoins with
    # exchange+sort pairs over 2-row frames (round-15, guide §3.1)
    return (
        b.join(F.broadcast(h), "k")
        .join(F.broadcast(i), "k")
        .select(
            "k",
            "dcg_bm25",
            "dcg_hibrido",
            "idcg",
            ndcg_of("dcg_bm25").alias("ndcg_bm25"),
            ndcg_of("dcg_hibrido").alias("ndcg_hibrido"),
            (ndcg_of("dcg_hibrido") - ndcg_of("dcg_bm25")).alias(
                "delta_ndcg"
            ),
            F.col("n_rel_dcg_bm25").alias("n_rel_bm25"),
            F.col("n_rel_dcg_hibrido").alias("n_rel_hibrido"),
        )
        .orderBy("k")
    )


def _hybrid_ndcg_sql() -> str:
    ks = ", ".join(str(k) for k in HYBRID_EVAL_KS)
    rlist = ", ".join(f"'{t}'" for t in NDCG_REL_TERMS)
    max_k = HYBRID_TOP_K
    term = (
        "CAST(ROUND(CAST(ganho AS DOUBLE)"
        " / LOG2(CAST(r + 1 AS DOUBLE)), 6) AS DECIMAL(28,6))"
    )
    return f"""{_bm25_scored_ctes()},
rel AS (
    SELECT doc_id, COUNT(*) AS rel
    FROM (SELECT DISTINCT doc_id, termo FROM terms
          WHERE termo IN ({rlist}))
    GROUP BY doc_id
),
gains AS (
    SELECT doc_id,
           CAST(CASE rel WHEN 1 THEN 1 WHEN 2 THEN 3
                WHEN 3 THEN 7 ELSE 0 END AS BIGINT) AS ganho
    FROM rel
),
hyb AS ({HYBRID_RRF_SQL}),
bm25_top AS (
    SELECT doc_id, score_bm25 FROM scored
    ORDER BY score_bm25 DESC, doc_id ASC LIMIT {max_k}
),
bm25_ranked AS (
    SELECT COALESCE(g.ganho, 0) AS ganho,
           ROW_NUMBER() OVER (ORDER BY t.score_bm25 DESC,
                              t.doc_id ASC) AS r
    FROM bm25_top t LEFT JOIN gains g USING (doc_id)
),
hyb_ranked AS (
    SELECT COALESCE(g.ganho, 0) AS ganho,
           ROW_NUMBER() OVER (ORDER BY h.rrf DESC, h.doc_id ASC) AS r
    FROM hyb h LEFT JOIN gains g USING (doc_id)
),
ideal_ranked AS (
    SELECT ganho, ROW_NUMBER() OVER (ORDER BY ganho DESC,
                                     doc_id ASC) AS r
    FROM gains QUALIFY r <= {max_k}
),
ks AS (SELECT unnest([{ks}]) AS k),
b AS (
    SELECT k, CAST(SUM({term}) AS DOUBLE) AS dcg_bm25,
           CAST(COUNT(CASE WHEN ganho > 0 THEN 1 END) AS BIGINT)
               AS n_rel_bm25
    FROM ks LEFT JOIN bm25_ranked ON r <= k GROUP BY k
),
h AS (
    SELECT k, CAST(SUM({term}) AS DOUBLE) AS dcg_hibrido,
           CAST(COUNT(CASE WHEN ganho > 0 THEN 1 END) AS BIGINT)
               AS n_rel_hibrido
    FROM ks LEFT JOIN hyb_ranked ON r <= k GROUP BY k
),
i AS (
    SELECT k, CAST(SUM({term}) AS DOUBLE) AS idcg
    FROM ks LEFT JOIN ideal_ranked ON r <= k GROUP BY k
)
SELECT b.k, dcg_bm25, dcg_hibrido, idcg,
       CASE WHEN idcg IS NOT NULL AND idcg > 0.0
            THEN dcg_bm25 / idcg END AS ndcg_bm25,
       CASE WHEN idcg IS NOT NULL AND idcg > 0.0
            THEN dcg_hibrido / idcg END AS ndcg_hibrido,
       (CASE WHEN idcg IS NOT NULL AND idcg > 0.0
             THEN dcg_hibrido / idcg END)
       - (CASE WHEN idcg IS NOT NULL AND idcg > 0.0
               THEN dcg_bm25 / idcg END) AS delta_ndcg,
       n_rel_bm25, n_rel_hibrido
FROM b JOIN h ON b.k = h.k JOIN i ON b.k = i.k
ORDER BY b.k
"""


HYBRID_NDCG_SQL = _hybrid_ndcg_sql()


#: multi-query eval benchmark: (query_id, retrieval terms, held-out
#: relevance terms). Each query's judgments are DISJOINT from its own
#: retrieval terms (the ndcg_at_k independence rule) — queries 1/2 swap
#: roles with the single-query eval's term sets, query 3 uses a third
#: disjoint slice of the corpus vocabulary.
MACRO_QUERIES = (
    (1, ("scan", "window", "join"), ("filter", "merge", "sort")),
    (2, ("hash", "stream", "batch"), ("table", "vector", "group")),
    (3, ("key", "order", "column"), ("agg", "value", "line")),
)
MACRO_K = 10
#: grouped-ranking group-cardinality guard for macro_ndcg_grouped: the
#: operator's plan-level assert fails the job if the observed distinct
#: qid count exceeds this (broadcast-sized side frames are the contract)
MACRO_MAX_QIDS = 64


def _macro_cand_gains(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-memoized (qid, doc_id, score_bm25, ganho) candidate frame
    + (qid, doc_id, ganho) graded-gains frame that BOTH macro-NDCG
    rankings (TakeOrdered union and grouped distributed ranking) read.
    Eager barriers ahead of the ranking passes (the round-7 interarrival
    lesson, and ranking.py's documented contract for expensive derived
    inputs): the ranking stages reference their input subtree ~4x, and
    without the barrier each stage re-derives the whole per-query BM25
    join/aggregate chain (the un-barriered plan carried 235 exchanges;
    barriered, the chain runs once per frame). memo.shared_frame (not a
    per-build localCheckpoint): the two registered macro-NDCG variants
    share one materialization per (session, sf_dir), and bench's
    _warm_family_memos can pre-pay it like the other family memos."""
    from banking_streaming_etl_spark.operators import memo

    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode("toks").alias("termo"))

    def _qid_map(pairs: list[tuple[int, str]]) -> DataFrame:
        return (
            spark.range(1)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(q).cast("bigint").alias("qid"),
                                F.lit(t).alias("termo"),
                            )
                            for q, t in pairs
                        ]
                    )
                ).alias("s")
            )
            .select("s.*")
        )

    qmap = _qid_map([(q, t) for q, qt, _ in MACRO_QUERIES for t in qt])
    rmap = _qid_map([(q, t) for q, _, rt in MACRO_QUERIES for t in rt])

    qterms = terms.join(F.broadcast(qmap), "termo")
    tf = qterms.groupBy("qid", "doc_id", "termo").agg(
        F.count("*").alias("tf")
    )
    df_ = (
        qterms.select("qid", "doc_id", "termo")
        .distinct()
        .groupBy("qid", "termo")
        .agg(F.count("*").alias("df"))
    )
    lens = terms.groupBy("doc_id").agg(F.count("*").alias("len_d"))
    stats = lens.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("len_d").cast("double")).alias("avg_len"),
    )
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tfd = F.col("tf").cast("double")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B)
        * F.col("len_d").cast("double")
        / F.col("avg_len")
    )
    contrib = F.round(idf * tfd * F.lit(BM25_K1 + 1.0) / (tfd + norm), 6)
    scored = (
        tf.join(F.broadcast(df_), ["qid", "termo"])
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", contrib)
        .groupBy("qid", "doc_id")
        .agg(exact.exact_sum(F.col("contrib"), "score_bm25"))
    )
    rel = (
        terms.join(F.broadcast(rmap), "termo")
        .select("qid", "doc_id", "termo")
        .distinct()
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("rel"))
    )
    gain = (
        F.when(F.col("rel") == 1, 1)
        .when(F.col("rel") == 2, 3)
        .when(F.col("rel") == 3, 7)
        .otherwise(0)
        .cast("bigint")
    )
    gains = memo.shared_frame(
        spark,
        sf_dir,
        "macro_ndcg_gains",
        lambda: rel.select("qid", "doc_id", gain.alias("ganho")),
    )
    cand = memo.shared_frame(
        spark,
        sf_dir,
        "macro_ndcg_cand",
        lambda: scored.join(gains, ["qid", "doc_id"], "left").select(
            "qid",
            "doc_id",
            "score_bm25",
            F.coalesce(F.col("ganho"), F.lit(0).cast("bigint")).alias(
                "ganho"
            ),
        ),
    )
    return cand, gains


def macro_ndcg_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged NDCG@K over a multi-query benchmark — the real IR
    eval-harness shape (per-query NDCG, then the unweighted mean across
    queries), where ndcg_at_k / hybrid_ndcg_eval grade one query. All
    three queries score in ONE corpus pass: the (qid, termo) query map
    broadcasts onto the exploded term frame, BM25 runs with qid as an
    extra grouping dimension (df/tf per query, shared corpus
    length/stats), and BOTH rankings — per-query system order and
    per-query ideal order — are per-query TakeOrdered top-Ks off the
    memoized eager-checkpointed frames (distributed top-K: no task ever
    holds a query's whole candidate set; the only windows run over the
    bounded <= Q*K-row unions). The compile-time-Q union is deliberate:
    at Q=3 the unioned TakeOrdereds are strictly cheaper than two
    grouped-ranking passes (~8 stages each). For a LARGE / runtime
    query set, `macro_ndcg_grouped` is the scale path — the SAME
    candidate/gains memo through ONE pass of the grouped distributed-
    ranking operator per ranking, oracle-checked identical.

    Engine parity: per-query DCG terms are the ndcg_at_k recipe
    (6-rounded log2-discount terms, DECIMAL-summed, one unrounded IEEE
    division per query, guarded to NULL on absent/zero IDCG); the macro
    mean is an EXPLICIT fold over the compile-time query list —
    ((q1 + q2) + q3) / |Q| in that parenthesization in both dialects —
    never an unordered float AVG (3-double aggregation order is
    nondeterministic across partitions, the 1-ulp class)."""
    cand, gains = _macro_cand_gains(spark, sf_dir)

    # Per-query top-K: one TakeOrderedAndProject per compile-time query,
    # unioned, then ranked by a PARTITIONED window over the <= Q*K-row
    # union — bounded, so no whitelist needed.
    def _topk(df: DataFrame, value_col: str) -> DataFrame:
        per_q = [
            df.filter(F.col("qid") == q)
            .orderBy(F.desc(value_col), F.asc("doc_id"))
            .limit(MACRO_K)
            for q, _, _ in MACRO_QUERIES
        ]
        u = per_q[0]
        for p in per_q[1:]:
            u = u.unionByName(p)
        from pyspark.sql import Window

        return u.select(
            "qid",
            "ganho",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(
                    F.desc(value_col), F.asc("doc_id")
                )
            )
            .cast("bigint")
            .alias("r"),
        )

    return _macro_ndcg_from_ranked(_topk(cand, "score_bm25"),
                                   _topk(gains, "ganho"))


def macro_ndcg_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`macro_ndcg_multi_query` with the rankings swapped onto the
    GROUPED distributed-ranking operator — the runtime-query-set scale
    path its sibling's docstring stages. Both per-query rankings
    (system order by BM25 score, ideal order by graded gain) are ONE
    `ranking.with_global_row_number(group_cols=["qid"])` pass each over
    the SAME memoized candidate/gains frames: per-qid sampled
    boundaries, bucketed local ranks, exact per-group offsets — no task
    ever holds a query's whole candidate set AND the pass count no
    longer grows with Q, so a thousand-query benchmark plans exactly
    like this three-query one (the TakeOrdered-union sibling plans Q
    branches). Group cardinality is enforced by the operator's
    plan-level max_groups assert (MACRO_MAX_QIDS; qid is compile-time
    bounded here, runtime-bounded in the general case). nulls="last"
    matches the siblings' ORDER BY value DESC total order; both value
    columns are non-null by construction, so the policy is inert on
    real data and keeps the query degenerate-corpus-safe. Output and
    oracle are IDENTICAL to macro_ndcg_multi_query (same MACRO_NDCG_SQL
    — the ranking machinery is the only thing that moves, which is
    exactly what the oracle proves)."""
    from banking_streaming_etl_spark.operators import memo, ranking

    # round-14: the two independent grouped passes (system + ideal)
    # materialize concurrently off the eager cand/gains memos — each is
    # a serial wave of blocking stages, so overlapping them (guide §2.6)
    # halves the wall-clock depth; the checkpointed outputs are <= Q*K
    # rows, session-memoized so rebuilds are
    # job-free. Values unchanged (same frames, same order-independent
    # DCG aggregates). Plan-shape tests inspect the UNmaterialized pair
    # (_macro_grouped_ranked_lazy) — the checkpoint hides the ranking
    # windows behind an ExistingRDD in this query's own plan.
    sys_r, ideal_r = memo.shared(
        spark,
        sf_dir,
        "macro_ndcg_grouped_ranks",
        lambda: ranking.overlap_checkpoint(
            _macro_grouped_ranked_lazy(spark, sf_dir)
        ),
    )
    return _macro_ndcg_from_ranked(sys_r, ideal_r)


def _macro_grouped_ranked_lazy(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame]:
    """The two grouped-ranking passes (system by BM25 score, ideal by
    graded gain) as LAZY frames — the ranking machinery
    macro_ndcg_grouped materializes through its session memo, factored
    out so the plan-shape test can verify the grouped-ranking shape
    (qid-partitioned windows, no TakeOrdered branch per query) on the
    plan the memo build executes."""
    from banking_streaming_etl_spark.operators import ranking

    cand, gains = _macro_cand_gains(spark, sf_dir)

    def _ranked(df: DataFrame, value_col: str) -> DataFrame:
        r = ranking.with_global_row_number(
            df,
            value_col,
            "doc_id",
            out="r",
            value_desc=True,
            group_cols=["qid"],
            max_groups=MACRO_MAX_QIDS,
            nulls="last",
        )
        return r.filter(F.col("r") <= MACRO_K).select(
            "qid", "ganho", F.col("r").cast("bigint").alias("r")
        )

    return [_ranked(cand, "score_bm25"), _ranked(gains, "ganho")]


def _macro_ndcg_from_ranked(
    sys_r: DataFrame, ideal_r: DataFrame
) -> DataFrame:
    """Shared DCG/IDCG/macro-mean tail over (qid, ganho, r) rankings —
    the engine-parity recipe both macro-NDCG variants must share
    term-for-term (see macro_ndcg_multi_query's docstring)."""
    term = F.round(
        F.col("ganho").cast("double")
        / F.log2((F.col("r") + F.lit(1)).cast("double")),
        6,
    ).cast(exact.DEC)
    d_ = sys_r.groupBy("qid").agg(
        F.sum(term).cast("double").alias("dcg"),
        F.count(F.when(F.col("ganho") > 0, 1))
        .cast("bigint")
        .alias("n_rel_topk"),
    )
    i_ = ideal_r.groupBy("qid").agg(
        F.sum(term).cast("double").alias("idcg")
    )
    perq = d_.join(i_, "qid", "left").select(
        "qid",
        F.when(
            F.col("idcg").isNotNull() & (F.col("idcg") > 0.0),
            F.col("dcg") / F.col("idcg"),
        ).alias("ndcg"),
        "n_rel_topk",
    )
    agg = perq.agg(
        *[
            F.max(F.when(F.col("qid") == q, F.col("ndcg"))).alias(
                f"ndcg_q{q}"
            )
            for q, _, _ in MACRO_QUERIES
        ],
        F.sum("n_rel_topk").cast("bigint").alias("rel_topk_total"),
    )
    macro = (
        (F.col("ndcg_q1") + F.col("ndcg_q2")) + F.col("ndcg_q3")
    ) / F.lit(float(len(MACRO_QUERIES)))
    return agg.select(
        "ndcg_q1",
        "ndcg_q2",
        "ndcg_q3",
        macro.alias("macro_ndcg"),
        "rel_topk_total",
    )


def _macro_ndcg_sql() -> str:
    qvals = ", ".join(
        f"({q}, '{t}')" for q, qt, _ in MACRO_QUERIES for t in qt
    )
    rvals = ", ".join(
        f"({q}, '{t}')" for q, _, rt in MACRO_QUERIES for t in rt
    )
    term = (
        "CAST(ROUND(CAST(ganho AS DOUBLE)"
        " / LOG2(CAST(r + 1 AS DOUBLE)), 6) AS DECIMAL(28,6))"
    )
    bm25 = (
        f"ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)"
        f" + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
        f" * CAST(tf AS DOUBLE) * {BM25_K1 + 1.0}"
        f" / (CAST(tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B}"
        f" + {BM25_B} * CAST(len_d AS DOUBLE) / avg_len)), 6)"
    )
    return f"""
WITH terms AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS termo FROM documents
),
qmap(qid, termo) AS (VALUES {qvals}),
rmap(qid, termo) AS (VALUES {rvals}),
qterms AS (
    SELECT CAST(q.qid AS BIGINT) AS qid, t.doc_id, t.termo
    FROM terms t JOIN qmap q USING (termo)
),
tf AS (
    SELECT qid, doc_id, termo, COUNT(*) AS tf
    FROM qterms GROUP BY 1, 2, 3
),
df AS (
    SELECT qid, termo, COUNT(*) AS df
    FROM (SELECT DISTINCT qid, doc_id, termo FROM qterms) GROUP BY 1, 2
),
lens AS (SELECT doc_id, COUNT(*) AS len_d FROM terms GROUP BY doc_id),
stats AS (
    SELECT COUNT(*) AS n_docs, AVG(CAST(len_d AS DOUBLE)) AS avg_len
    FROM lens
),
scored AS (
    SELECT qid, doc_id, {exact.sql_sum(bm25, "score_bm25")}
    FROM tf JOIN df USING (qid, termo) JOIN lens USING (doc_id), stats
    GROUP BY qid, doc_id
),
rel AS (
    SELECT qid, doc_id, COUNT(*) AS rel
    FROM (SELECT DISTINCT CAST(rm.qid AS BIGINT) AS qid, t.doc_id,
                 t.termo
          FROM terms t JOIN rmap rm USING (termo))
    GROUP BY 1, 2
),
gains AS (
    SELECT qid, doc_id,
           CAST(CASE rel WHEN 1 THEN 1 WHEN 2 THEN 3
                WHEN 3 THEN 7 ELSE 0 END AS BIGINT) AS ganho
    FROM rel
),
cand AS (
    SELECT s.qid, s.doc_id, s.score_bm25, COALESCE(g.ganho, 0) AS ganho
    FROM scored s LEFT JOIN gains g USING (qid, doc_id)
),
sys_r AS (
    SELECT qid, ganho,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY score_bm25 DESC, doc_id ASC) AS r
    FROM cand QUALIFY r <= {MACRO_K}
),
ideal_r AS (
    SELECT qid, ganho,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY ganho DESC, doc_id ASC) AS r
    FROM gains QUALIFY r <= {MACRO_K}
),
dsum AS (
    SELECT qid, CAST(SUM({term}) AS DOUBLE) AS dcg,
           CAST(COUNT(CASE WHEN ganho > 0 THEN 1 END) AS BIGINT)
               AS n_rel_topk
    FROM sys_r GROUP BY qid
),
isum AS (
    SELECT qid, CAST(SUM({term}) AS DOUBLE) AS idcg
    FROM ideal_r GROUP BY qid
),
perq AS (
    SELECT d.qid,
           CASE WHEN idcg IS NOT NULL AND idcg > 0.0
                THEN dcg / idcg END AS ndcg,
           n_rel_topk
    FROM dsum d LEFT JOIN isum i USING (qid)
)
SELECT ndcg_q1, ndcg_q2, ndcg_q3,
       ((ndcg_q1 + ndcg_q2) + ndcg_q3) / 3.0 AS macro_ndcg,
       rel_topk_total
FROM (
    SELECT MAX(CASE WHEN qid = 1 THEN ndcg END) AS ndcg_q1,
           MAX(CASE WHEN qid = 2 THEN ndcg END) AS ndcg_q2,
           MAX(CASE WHEN qid = 3 THEN ndcg END) AS ndcg_q3,
           CAST(SUM(n_rel_topk) AS BIGINT) AS rel_topk_total
    FROM perq
)
"""


MACRO_NDCG_SQL = _macro_ndcg_sql()


# --- MMR diversified rerank ---------------------------------------------------

#: relevance-vs-diversity tradeoff (Carbonell & Goldstein 1998's lambda).
MMR_LAMBDA = 0.7
#: candidate pool fed to the greedy selection (TakeOrdered top-N).
MMR_POOL = 20
#: documents selected.
MMR_K = 8


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified selection (Carbonell &
    Goldstein 1998) over the dense retrieval pool — the diversity-aware
    rerank a RAG stack (or a near-dup-aware few-shot sampler) runs after
    retrieval: greedily pick
    argmax_d  lambda * rel(d) - (1 - lambda) * max_{s in S} cos(d, s),
    doc-id tiebreak, until MMR_K docs are selected.

    Scale shape: relevance is the same broadcast-query dense scoring as
    hybrid_retrieval_rrf (corpus-sized, distributed); the candidate POOL
    is a TakeOrdered top-MMR_POOL (bounded), and the greedy selection is
    driver-side bookkeeping over that bounded pool — MMR is inherently
    sequential (step k depends on selection k-1), and at K x POOL scalar
    dots the driver IS the right executor (the BPE merge-adoption
    stance: the model/selection is driver-held, the data work is not).

    Rows-only registration: the greedy float argmax has no portable SQL
    twin; the Python differential over the (oracle-backed)
    hash-embedding frame pins the whole composition."""
    vecs = hash_embed_documents(spark, sf_dir)
    pool = (
        _dense_query_scores(spark, vecs)
        .select("doc_id", F.col("cos_dense").cast("double").alias("rel"))
        .orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(MMR_POOL)
    )
    pv = vecs.join(F.broadcast(pool.select("doc_id")), "doc_id")
    rel = {r.doc_id: float(r.rel) for r in pool.collect()}
    vec: dict[int, dict[int, float]] = {}
    for r in pv.collect():
        vec.setdefault(r.doc_id, {})[int(r.pos)] = float(r.valor)
    selected = mmr_select(rel, vec, MMR_LAMBDA, MMR_K)
    return spark.createDataFrame(
        [
            (i + 1, d, round(rel[d], 6), round(s, 6))
            for i, (d, s) in enumerate(selected)
        ],
        "ordem int, doc_id bigint, relevancia double, mmr double",
    )


def mmr_select(
    rel: dict, vec: dict, lam: float, k: int
) -> list[tuple[int, float]]:
    """The greedy MMR loop over a bounded pool (pure function so the
    differential test can drive it against an independent recompute).
    Dots iterate positions in sorted order — a fixed operation order, so
    scores are reproducible bit-for-bit."""

    def dot(a: dict, b: dict) -> float:
        return sum(a[p] * b[p] for p in sorted(a) if p in b)

    remaining = sorted(rel)
    chosen: list[tuple[int, float]] = []
    while remaining and len(chosen) < k:
        best = None
        for d in remaining:
            pen = max(
                (dot(vec[d], vec[s]) for s, _ in chosen), default=0.0
            )
            score = lam * rel[d] - (1.0 - lam) * pen
            if best is None or score > best[1]:
                best = (d, score)
        chosen.append(best)
        remaining.remove(best[0])
    return chosen


# --- BPE vocabulary induction: the full (small-N) training loop --------------

#: merges learned by the registered training query.
BPE_N_MERGES = 6
#: HARD design bound on merges learnable in one `_bpe_train` run — the
#: scale contract (round-4 verdict task #8). Each adopted merge chains
#: one more fold expression onto the vocabulary's `syms` column;
#: unbounded chaining would blow codegen/analysis (the reason a naive
#: 30k-merge run can't just loop). The trainer therefore truncates the
#: expression chain every BPE_CHECKPOINT_EVERY merges with an eager
#: localCheckpoint of the VOCABULARY frame (graph.py's iterative-loop
#: cadence; vocab-sized, never the corpus), so the live plan never
#: carries more than BPE_CHECKPOINT_EVERY nested folds and the bound
#: below is a real budget, not 6-merge wishful thinking. A full 30k-BPE
#: production run is the same loop with a bigger bound — the cost per
#: merge is one vocab-sized pair count + one fold rewrite, corpus
#: touched exactly once at the start.
BPE_MAX_MERGES = 4096
#: lineage-truncation cadence (merges between eager localCheckpoints).
BPE_CHECKPOINT_EVERY = 8


def _bpe_sym_pairs(wf: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent symbol-pair counts over a vocabulary
    frame (w, f, syms). Words reduced to <2 symbols stop contributing."""
    pairs = wf.filter(F.size("syms") >= 2).select(
        "f",
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(element_at(syms, i) AS a, "
                "element_at(syms, i + 1) AS b))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("f").alias("freq")
    )


def _bpe_apply_merge(a: str, b: str):
    """Greedy left-to-right application of one merge rule to the `syms`
    array, as a pure fold expression (no UDF): append each symbol unless
    it extends a pending (a, b) match, in which case the accumulator's
    last element is replaced by the merged symbol. Overlaps cannot
    double-merge because the merged token differs from its left part."""
    merged = a + b
    return F.aggregate(
        F.col("syms"),
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual BPE training loop (Sennrich et al. 2016) for
    BPE_N_MERGES iterations: count pairs -> adopt the most frequent as a
    merge rule -> re-segment the VOCABULARY -> repeat. Returns the
    learned merge table (rank, symbol pair, frequency at adoption).

    Scale shape: the corpus is touched ONCE (word-frequency aggregate,
    cached); every iteration after that is vocabulary-sized — a fold
    over each word's symbol array plus a pair-count aggregate, with the
    argmax collected to the driver (one 3-column row per iteration: the
    model being learned, not data). This is the standard distributed-BPE
    layout — corpus-sublinear training, driver-side rule bookkeeping.

    Rows-only registration: the iterative loop has no single-statement
    SQL twin; tests pin exact equality against a pure-Python trainer."""
    merges, base, _ = _bpe_train(spark, sf_dir)
    base.unpersist()
    return spark.createDataFrame(
        merges, "rank int, simbolo_a string, simbolo_b string, freq bigint"
    )


def _bpe_train(spark: SparkSession, sf_dir: str, n_merges: int | None = None,
               on_iter=None):
    """Shared training loop: returns (merge list, cached base vocabulary,
    final re-segmented vocabulary frame). Caller unpersists `base`.
    `n_merges` (default BPE_N_MERGES) must respect the BPE_MAX_MERGES
    contract; the fold-expression chain is localCheckpoint-truncated
    every BPE_CHECKPOINT_EVERY merges (see the constants' docstring).
    `on_iter(rank, wf)`, if given, observes the live vocabulary frame
    after each adopted merge — the cadence test instruments plan depth
    and per-merge wall time through it."""
    n = BPE_N_MERGES if n_merges is None else n_merges
    if n > BPE_MAX_MERGES:
        raise ValueError(
            f"n_merges={n} exceeds the BPE_MAX_MERGES={BPE_MAX_MERGES} "
            "training contract (one fold rewrite per merge; raise the "
            "bound consciously, the checkpoint cadence keeps plans flat)"
        )
    d = datamodel.load_table(spark, sf_dir, "documents")
    base = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
        )
        .cache()
    )
    wf = base
    merges = []
    for rank in range(1, n + 1):
        top = (
            _bpe_sym_pairs(wf)
            .orderBy(F.desc("freq"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        merges.append((rank, t.a, t.b, int(t.freq)))
        wf = wf.withColumn("syms", _bpe_apply_merge(t.a, t.b))
        if rank % BPE_CHECKPOINT_EVERY == 0:
            # eager lineage truncation: keep <= BPE_CHECKPOINT_EVERY
            # nested fold expressions in the live plan at any budget
            wf = wf.localCheckpoint(eager=True)
        if on_iter is not None:
            on_iter(rank, wf)
    return merges, base, wf


def bpe_corpus_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer-loop capstone: train BPE_N_MERGES merges, apply
    them, and report the per-source compression — symbols per word before
    (= characters) and after the merges, and the ratio. The number a
    tokenizer team actually tracks (how much sequence length the merge
    budget buys, per data source).

    Scale shape: training is the corpus-sublinear loop (_bpe_train); the
    report joins each source's word stream against the vocabulary-sized
    final segmentation on the word key — one dim-style equi-join + one
    source-keyed aggregate. Rows-only like the trainer (iterative);
    exact-equality differential vs the pure-Python pipeline in tests."""
    merges, base, wf = _bpe_train(spark, sf_dir)
    seg = wf.select("w", F.size("syms").alias("n_sym"))
    d = datamodel.load_table(spark, sf_dir, "documents")
    words = d.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    out = (
        words.join(seg, "w")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_palavras"),
            F.sum(F.length("w")).cast("bigint").alias("simbolos_antes"),
            F.sum("n_sym").cast("bigint").alias("simbolos_depois"),
        )
        .select(
            "source",
            "n_palavras",
            "simbolos_antes",
            "simbolos_depois",
            F.round(
                F.col("simbolos_depois").cast("double")
                / F.col("simbolos_antes").cast("double"),
                6,
            ).alias("taxa_compressao"),
        )
    )
    # materialize before unpersisting the lineage's cache root
    rows = out.collect()
    base.unpersist()
    return spark.createDataFrame(rows, out.schema)


# --- Gopher-style repetition signals -----------------------------------------

#: keep thresholds (Rae et al. 2021 "Scaling Language Models" C.2, the
#: published repetition filters, applied to token counts): a document is
#: dropped when its most frequent token dominates, or its 2-gram stream
#: is mostly duplicates, or one 2-gram dominates.
GOPHER_TOP_TOKEN_MAX = 0.30
GOPHER_DUP_2GRAM_MAX = 0.20
GOPHER_TOP_2GRAM_MAX = 0.18


def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filters from the Gopher curation recipe
    (Rae et al. 2021): per document, the duplicate-token fraction, the
    most-frequent-token share, and the same two signals over the 2-gram
    stream, plus the composite keep flag. The repetition family is the
    quality signal `text_quality_scores`' length/punct/stopword ratios
    cannot see (a looping generator produces "clean" text that repeats).

    Every fraction is an exact integer ratio (term counts), emitted as
    an unrounded double through term-identical ladders; the keep flag
    compares those exact ratios against fixed literal thresholds —
    bit-identical cross-engine. Documents too short for 2-grams get
    zero counts and NULL ratios (treated as passing).

    Scale: two (doc, term)-keyed hash aggregates (tokens, 2-grams) —
    the same shuffle shape as tfidf's doc-term counts — re-aggregated
    per doc, then one doc-keyed join. No window, no collect."""
    d = _docs(spark, sf_dir).select("doc_id", "toks")
    tok = (
        d.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").cast("bigint").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("_n_dist"),
            F.max("c").cast("bigint").alias("_top"),
        )
    )
    grams = F.expr(
        "filter(transform(toks, (t, i) -> IF(i = 0, NULL,"
        " concat(toks[i-1], ' ', t))), x -> x IS NOT NULL)"
    )
    grm = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").cast("bigint").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("_ng"),
            F.count("*").cast("bigint").alias("_ng_dist"),
            F.max("c").cast("bigint").alias("_gtop"),
        )
    )
    j = tok.join(grm, "doc_id", "left")
    ng = F.coalesce(F.col("_ng"), F.lit(0)).cast("bigint")
    dup_tok = (F.col("n_tokens") - F.col("_n_dist")).cast("double") / F.col(
        "n_tokens"
    ).cast("double")
    top_tok = F.col("_top").cast("double") / F.col("n_tokens").cast("double")
    dup_2g = (F.col("_ng") - F.col("_ng_dist")).cast("double") / F.col(
        "_ng"
    ).cast("double")
    top_2g = F.col("_gtop").cast("double") / F.col("_ng").cast("double")
    keep = (
        (top_tok <= F.lit(GOPHER_TOP_TOKEN_MAX))
        & F.coalesce(dup_2g <= F.lit(GOPHER_DUP_2GRAM_MAX), F.lit(True))
        & F.coalesce(top_2g <= F.lit(GOPHER_TOP_2GRAM_MAX), F.lit(True))
    )
    return j.select(
        "doc_id",
        "n_tokens",
        dup_tok.alias("frac_token_dup"),
        top_tok.alias("top_token_share"),
        ng.alias("n_2grams"),
        dup_2g.alias("frac_2gram_dup"),
        top_2g.alias("top_2gram_share"),
        keep.alias("manter_gopher"),
    )


GOPHER_REPETITION_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
gt AS (SELECT doc_id, unnest(toks) AS t FROM d),
tc AS (SELECT doc_id, t, COUNT(*) AS c FROM gt GROUP BY 1, 2),
ts AS (
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_dist,
           CAST(MAX(c) AS BIGINT) AS top_tok
    FROM tc GROUP BY 1
),
gg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])) AS g
    FROM d
),
gc AS (SELECT doc_id, g, COUNT(*) AS c FROM gg GROUP BY 1, 2),
gs AS (
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS ng,
           CAST(COUNT(*) AS BIGINT) AS ng_dist,
           CAST(MAX(c) AS BIGINT) AS gtop
    FROM gc GROUP BY 1
)
SELECT ts.doc_id, ts.n_tokens,
       CAST(ts.n_tokens - ts.n_dist AS DOUBLE)
           / CAST(ts.n_tokens AS DOUBLE) AS frac_token_dup,
       CAST(ts.top_tok AS DOUBLE) / CAST(ts.n_tokens AS DOUBLE)
           AS top_token_share,
       CAST(COALESCE(gs.ng, 0) AS BIGINT) AS n_2grams,
       CAST(gs.ng - gs.ng_dist AS DOUBLE) / CAST(gs.ng AS DOUBLE)
           AS frac_2gram_dup,
       CAST(gs.gtop AS DOUBLE) / CAST(gs.ng AS DOUBLE) AS top_2gram_share,
       (CAST(ts.top_tok AS DOUBLE) / CAST(ts.n_tokens AS DOUBLE)
            <= {GOPHER_TOP_TOKEN_MAX}
        AND COALESCE(CAST(gs.ng - gs.ng_dist AS DOUBLE)
                     / CAST(gs.ng AS DOUBLE) <= {GOPHER_DUP_2GRAM_MAX}, TRUE)
        AND COALESCE(CAST(gs.gtop AS DOUBLE)
                     / CAST(gs.ng AS DOUBLE) <= {GOPHER_TOP_2GRAM_MAX}, TRUE))
           AS manter_gopher
FROM ts LEFT JOIN gs ON ts.doc_id = gs.doc_id
"""


# --- lexical diversity per source --------------------------------------------


def lexical_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source lexical-diversity profile: type-token ratio, unbiased
    Simpson concentration D = sum c(c-1) / (T(T-1)), and the effective
    vocabulary size 1/D — the corpus-mix diagnostic next to the Zipf and
    Heaps readouts (a source whose effective vocab collapses is
    boilerplate, whatever its raw vocab says).

    Every output is an exact integer ratio (term counts) pushed through
    term-identical double ladders — no rounding, no transcendental.
    c(c-1) products accumulate in DECIMAL(38,0) (at web scale a single
    term's c^2 passes 2^63). Scale: one (source, term) hash aggregate
    (tf-idf's shuffle shape), one per-source re-aggregate, one broadcast
    doc-count join."""
    d = _docs(spark, sf_dir)
    dec0 = "decimal(38,0)"
    tc = (
        d.select("source", F.explode("toks").alias("termo"))
        .groupBy("source", "termo")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    per = tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocabulario"),
        F.sum((F.col("c") * (F.col("c") - 1)).cast(dec0)).alias("_s2"),
    )
    nd = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    t = F.col("n_tokens").cast("double")
    pairs = (t * (t - F.lit(1.0)))
    simpson = F.col("_s2").cast("double") / pairs
    return per.join(F.broadcast(nd), "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "vocabulario",
        (F.col("vocabulario").cast("double") / t).alias("ttr"),
        simpson.alias("simpson_d"),
        F.when(
            F.col("_s2") > 0, pairs / F.col("_s2").cast("double")
        ).alias("vocab_efetivo"),
    )


SOURCE_DIVERSITY_SQL = """
WITH tc AS (
    SELECT source, unnest(string_split(text, ' ')) AS termo
    FROM documents
),
cc AS (
    SELECT source, termo, CAST(COUNT(*) AS BIGINT) AS c
    FROM tc GROUP BY 1, 2
),
per AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocabulario,
           SUM(CAST(c * (c - 1) AS DECIMAL(38,0))) AS s2
    FROM cc GROUP BY 1
),
nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY 1)
SELECT p.source, n.n_docs, p.n_tokens, p.vocabulario,
       CAST(p.vocabulario AS DOUBLE) / CAST(p.n_tokens AS DOUBLE) AS ttr,
       CAST(p.s2 AS DOUBLE)
           / (CAST(p.n_tokens AS DOUBLE)
              * (CAST(p.n_tokens AS DOUBLE) - 1.0)) AS simpson_d,
       CASE WHEN p.s2 > 0
            THEN (CAST(p.n_tokens AS DOUBLE)
                  * (CAST(p.n_tokens AS DOUBLE) - 1.0))
                 / CAST(p.s2 AS DOUBLE) END AS vocab_efetivo
FROM per p JOIN nd n ON p.source = n.source
"""


# --- source-pair vocabulary overlap -------------------------------------------


def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between every source pair: Jaccard
    |A intersect B| / |A union B| plus both containment directions —
    the corpus-mix redundancy readout (two sources with near-identical
    vocabularies add diversity on paper only), the vocabulary-level
    companion of `source_ngram_overlap`'s content screen.

    Every statistic is an exact integer ratio. Scale: the distinct
    (source, term) frame is one shuffle; the pair join is TERM-keyed
    (rides a vocabulary-sized exchange) and per-term fanout is bounded
    by |sources|^2 — a domain-bounded constant, never corpus-quadratic;
    per-source vocab sizes broadcast onto the 190-row pair table."""
    sv = (
        _docs(spark, sf_dir)
        .select("source", F.explode("toks").alias("termo"))
        .distinct()
        .persist()
    )
    sizes = sv.groupBy("source").agg(
        F.count("*").cast("bigint").alias("v")
    )
    inter = (
        sv.alias("a")
        .join(sv.alias("b"), "termo")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("fonte_a"),
            F.col("b.source").alias("fonte_b"),
        )
        .agg(F.count("*").cast("bigint").alias("intersecao"))
    )
    va = F.broadcast(
        sizes.select(F.col("source").alias("fonte_a"),
                     F.col("v").alias("vocab_a"))
    )
    vb = F.broadcast(
        sizes.select(F.col("source").alias("fonte_b"),
                     F.col("v").alias("vocab_b"))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    uni = d("vocab_a") + d("vocab_b") - d("intersecao")
    return (
        inter.join(va, "fonte_a")
        .join(vb, "fonte_b")
        .select(
            "fonte_a",
            "fonte_b",
            "vocab_a",
            "vocab_b",
            "intersecao",
            (d("intersecao") / uni).alias("jaccard"),
            (d("intersecao") / d("vocab_a")).alias("contencao_a"),
            (d("intersecao") / d("vocab_b")).alias("contencao_b"),
        )
    )


SOURCE_VOCAB_JACCARD_SQL = """
WITH sv AS (
    SELECT DISTINCT source, unnest(string_split(text, ' ')) AS termo
    FROM documents
),
sizes AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM sv GROUP BY 1
),
inter AS (
    SELECT a.source AS fonte_a, b.source AS fonte_b,
           CAST(COUNT(*) AS BIGINT) AS intersecao
    FROM sv a JOIN sv b ON a.termo = b.termo AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.fonte_a, i.fonte_b, sa.v AS vocab_a, sb.v AS vocab_b, i.intersecao,
       CAST(i.intersecao AS DOUBLE)
           / (CAST(sa.v AS DOUBLE) + CAST(sb.v AS DOUBLE)
              - CAST(i.intersecao AS DOUBLE)) AS jaccard,
       CAST(i.intersecao AS DOUBLE) / CAST(sa.v AS DOUBLE) AS contencao_a,
       CAST(i.intersecao AS DOUBLE) / CAST(sb.v AS DOUBLE) AS contencao_b
FROM inter i
JOIN sizes sa ON i.fonte_a = sa.source
JOIN sizes sb ON i.fonte_b = sb.source
"""
