"""Text-analysis operators over `documents` (north-star, SURVEY §2.10):
language-ID heuristic, quality scoring, token statistics, document
fingerprinting.  Everything is built-in string/array/higher-order
functions -- no Python in the hot path -- and md5-based where hashing
is needed so the DuckDB oracles are value-exact.

Scale: all per-document (embarrassingly parallel, no shuffle) except
the corpus token stats, which partial-aggregate before their one
shuffle on the low-cardinality group key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import local_frame, read_table
from .dedup import _SHINGLES_SQL
from .registry import query

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _toks(c: Column) -> Column:
    return F.split(F.lower(c), r"\s+")


# ---------------------------------------------------------------------------
# Language identification (stopword-ratio heuristic)
# ---------------------------------------------------------------------------
@query(
    "text_langid",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           round(CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                 / len(toks), 4)                                    AS en_stop_ratio,
           CASE WHEN CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                     / len(toks) >= 0.05
                THEN 'en' ELSE 'unknown' END                        AS pred_lang
    FROM t WHERE len(toks) > 0
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic: ratio of English
    function words among tokens.  Pure higher-order functions
    (filter over the token array) -- one pass, no explode, no
    shuffle.  Tokenization and the stopword count are materialized in
    a staged projection so the regex split and the array filter each
    run once per row, not once per referencing expression."""
    d = _docs(spark, sf_dir)
    staged = d.select(
        "doc_id",
        "lang",
        F.size(_toks(F.col("text"))).alias("n_tokens"),
        F.size(
            F.filter(_toks(F.col("text")), lambda x: x.isin(*STOPWORDS))
        ).alias("n_stop"),
    ).filter(F.col("n_tokens") > 0)
    ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return staged.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(ratio, 4).alias("en_stop_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("unknown").alias("pred_lang"),
    )


# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword signals)
# ---------------------------------------------------------------------------
@query(
    "text_quality",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split_regex(lower(text), '\s+') AS toks,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
               AS n_punct,
             length(text) AS len_text
      FROM documents
    )
    SELECT doc_id, n_chars,
           len(toks)                                                 AS n_tokens,
           round(CAST(len_text AS DOUBLE) / len(toks), 2)            AS avg_token_span,
           round(CAST(n_punct AS DOUBLE) / len_text, 4)              AS punct_ratio,
           round(CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                 / len(toks), 4)                                     AS stop_ratio,
           CASE WHEN len(toks) >= 40 AND
                     CAST(n_punct AS DOUBLE) / len_text < 0.1 THEN 'high'
                WHEN len(toks) >= 15 THEN 'medium'
                ELSE 'low' END                                       AS quality_bucket
    FROM t WHERE len(toks) > 0
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: token count, mean token span,
    punctuation ratio, stopword ratio, bucketed score -- the standard
    pre-training filter features (length/punct/stopword heuristics)."""
    d = _docs(spark, sf_dir)
    # Stage the expensive per-row scalars once (regex split, regex
    # strip, stopword filter); every output column then reads cheap
    # staged columns instead of re-evaluating the regexes.
    staged = d.select(
        "doc_id",
        "n_chars",
        F.size(_toks(F.col("text"))).alias("n_tokens"),
        F.size(
            F.filter(_toks(F.col("text")), lambda x: x.isin(*STOPWORDS))
        ).alias("n_stop"),
        F.length("text").alias("len_text"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        ).alias("n_punct"),
    ).filter(F.col("n_tokens") > 0)
    n_tokens = F.col("n_tokens")
    punct_ratio = F.col("n_punct").cast("double") / F.col("len_text")
    stop_ratio = F.col("n_stop").cast("double") / n_tokens
    return staged.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(F.col("len_text").cast("double") / n_tokens, 2).alias(
            "avg_token_span"
        ),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.when((n_tokens >= 40) & (punct_ratio < 0.1), "high")
        .when(n_tokens >= 15, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    )


# ---------------------------------------------------------------------------
# Corpus token statistics per (lang, source)
# ---------------------------------------------------------------------------
@query(
    "text_token_stats",
    oracle=r"""
    WITH t AS (
      SELECT lang, source, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    )
    SELECT lang, source,
           count(*)            AS total_tokens,
           count(DISTINCT tok) AS distinct_tokens,
           min(tok)            AS first_token_alpha
    FROM t GROUP BY lang, source
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token accounting per (lang, source): total and
    distinct token counts.  Explode happens map-side; the shuffle
    carries only per-(lang,source,token) partials."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "lang", "source", F.explode(_toks(F.col("text"))).alias("tok")
    )
    return t.groupBy("lang", "source").agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("tok").alias("distinct_tokens"),
        F.min("tok").alias("first_token_alpha"),
    )


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization (vs whitespace)
# ---------------------------------------------------------------------------
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


@query(
    "text_bpe_tokens",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(lower(text)), '\s+')) AS n_ws_tokens,
             len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id, lang, n_ws_tokens, n_bpe_tokens,
           round(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 4) AS fertility
    FROM t
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token accounting: a BPE-ish regex (letter runs /
    digit runs / punctuation runs) vs plain whitespace tokens, plus
    their ratio ("fertility" -- the standard tokens-per-word cost
    estimate for LLM training data).  regexp_extract_all is
    codegen'd JVM work; one narrow pass, both counts staged once."""
    d = _docs(spark, sf_dir)
    return (
        d.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            "lang",
            F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "n_ws_tokens"
            ),
            F.size(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), 0)
            ).alias("n_bpe_tokens"),
        )
        .select(
            "*",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_ws_tokens"), 4
            ).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (content hash + min-shingle winnow)
# ---------------------------------------------------------------------------
@query(
    "text_fingerprint",
    oracle=rf"""
    WITH shingles AS ({_SHINGLES_SQL}),
    winnow AS (
      SELECT doc_id, min(md5(shingle)) AS min_shingle_fp
      FROM shingles GROUP BY doc_id
    )
    SELECT d.doc_id,
           md5(regexp_replace(lower(d.text), '\s+', ' ', 'g')) AS content_fp,
           w.min_shingle_fp
    FROM documents d JOIN winnow w ON w.doc_id = d.doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fingerprints per document: exact content hash over
    normalized text (rolling-hash equivalent for identity), and the
    minimum shingle hash (a 1-hash winnowing sketch; robust to
    local edits).  Both md5-based for oracle parity.

    Fully narrow: the min-shingle sketch is an array fold
    (array_min over per-shingle md5) on the per-row shingle array --
    no explode, no grouped shuffle, no self-join.  One pass over the
    corpus regardless of scale."""
    d = _docs(spark, sf_dir)
    toks = F.col("toks")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    return (
        d.select(
            "doc_id",
            "text",
            F.split(F.lower(F.col("text")), r"\s+").alias("toks"),
        )
        .filter(F.size(toks) >= 3)
        .select(
            "doc_id",
            F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias(
                "content_fp"
            ),
            F.array_min(F.transform(sh, F.md5)).alias("min_shingle_fp"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted index (token -> posting list)
# ---------------------------------------------------------------------------
@query(
    "text_inverted_index",
    oracle=r"""
    WITH t AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    )
    SELECT tok,
           count(*) AS doc_freq,
           array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings_head
    FROM t
    GROUP BY tok HAVING count(*) >= 50
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: per token, document frequency
    and the head of the sorted posting list (capped at 10 ids so hot
    tokens don't blow up the row; a real index sink would write the
    full list bucketed by token).  Explode is map-side; the single
    shuffle keys on token with (token,doc) pre-deduped.  HAVING
    prunes the long tail to common terms."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.explode(_toks(F.col("text"))).alias("tok")
    ).distinct()
    return (
        t.groupBy("tok")
        .agg(
            F.count("*").alias("doc_freq"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10),
                ",",
            ).alias("postings_head"),
        )
        .filter(F.col("doc_freq") >= 50)
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------
@query(
    "text_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT * FROM (
      SELECT doc_id, tok, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.  Term frequencies shuffle on
    (doc, token), document frequencies on token; the df side then
    broadcasts back onto tf (vocabulary << corpus), and the corpus
    size is a 1-row broadcast.  Ranking orders by the ROUNDED score
    with the token as tiebreak so ranks are identical across engines
    (raw double ties would rank nondeterministically)."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_toks(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return scored.select(
        "*", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= 3)


# ---------------------------------------------------------------------------
# Regex scalar sweep (extract / count / replace / match)
# ---------------------------------------------------------------------------
@query(
    "regex_funcs",
    oracle=r"""
    SELECT doc_id,
           regexp_extract(text, '([0-9]+)', 1)                      AS first_num,
           len(regexp_extract_all(text, '[A-Z][a-z]+'))             AS n_capitalized,
           substring(regexp_replace(text, '[0-9]+', '#', 'g'), 1, 40) AS masked_head,
           regexp_matches(text, 'data')                             AS mentions_data
    FROM documents
    """,
)
def regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar sweep: capture-group extraction, match counting,
    global replacement (PII-masking shape), boolean match -- all
    JVM-side codegen'd regex, one narrow pass."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([0-9]+)", 1).alias("first_num"),
        F.regexp_count("text", F.lit(r"[A-Z][a-z]+")).alias("n_capitalized"),
        F.substring(
            F.regexp_replace("text", r"[0-9]+", "#"), 1, 40
        ).alias("masked_head"),
        F.col("text").rlike("data").alias("mentions_data"),
    )


# ---------------------------------------------------------------------------
# Within-document repetition (duplicate n-gram ratios)
# ---------------------------------------------------------------------------
@query(
    "text_repetition",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
      FROM documents
    ),
    tri AS (
      SELECT doc_id, toks,
             list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               AS tris
      FROM t WHERE len(toks) >= 3
    )
    SELECT doc_id,
           len(toks)                                               AS n_tokens,
           round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                       / len(toks), 4)                             AS word_dup_ratio,
           round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE)
                       / len(tris), 4)                             AS trigram_dup_ratio
    FROM tri
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher-rule family):
    fraction of duplicate words and duplicate word-trigrams per doc.
    High values flag boilerplate/template/spam pages that per-corpus
    dedup never sees.  Entirely narrow: both ratios are array
    higher-order expressions (array_distinct over the staged token /
    trigram arrays) -- no explode, no shuffle, one pass at any
    corpus size."""
    d = _docs(spark, sf_dir)
    toks = F.col("toks")
    tris = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    staged = (
        d.select("doc_id", _toks(F.col("text")).alias("toks"))
        .filter(F.size(toks) >= 3)
        .select("doc_id", toks.alias("toks"), tris.alias("tris"))
    )
    return staged.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(
            1.0
            - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
            4,
        ).alias("word_dup_ratio"),
        F.round(
            1.0
            - F.size(F.array_distinct(F.col("tris"))).cast("double")
            / F.size(F.col("tris")),
            4,
        ).alias("trigram_dup_ratio"),
    )


# ---------------------------------------------------------------------------
# Corpus bigram language-model scoring (model-free perplexity filter)
# ---------------------------------------------------------------------------
@query(
    "text_bigram_lm",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS bg
      FROM t WHERE len(toks) >= 2
    ),
    flat AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM flat GROUP BY 1, 2),
    c1  AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1)
    SELECT f.doc_id,
           count(*)                                             AS n_bigrams,
           round(avg(-ln(CAST(c12.c12 AS DOUBLE) / c1.c1)), 4)  AS avg_nll
    FROM flat f
    JOIN c12 ON f.w1 = c12.w1 AND f.w2 = c12.w2
    JOIN c1  ON f.w1 = c1.w1
    GROUP BY f.doc_id
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free perplexity filter: score each document by the mean
    negative log-likelihood of its word bigrams under the corpus's own
    bigram MLE (KenLM-style fluency filtering without an external
    model).  Two aggregation passes build the counts -- bigram counts
    partial-aggregate map-side, context counts reduce the already-tiny
    bigram table -- then the probability table joins back onto the
    per-doc bigram stream by (w1, w2): an equi-join on a
    vocabulary-bounded key, never a per-document loop.  avg(-ln p)
    sums IEEE doubles whose addition order varies with partitioning;
    rounded at 1e-4 against terms of magnitude ~1e0, far beyond the
    ~1e-15 accumulation jitter."""
    d = _docs(spark, sf_dir)
    toks = F.col("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    flat = (
        d.select("doc_id", _toks(F.col("text")).alias("toks"))
        .filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    c12 = flat.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    probs = c12.join(c1, "w1").select(
        "w1", "w2", (F.col("c12").cast("double") / F.col("c1")).alias("p")
    )
    return (
        flat.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(-F.log("p")), 4).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Token-distribution entropy per corpus slice
# ---------------------------------------------------------------------------
@query(
    "text_token_entropy",
    oracle=r"""
    WITH t AS (
      SELECT lang, source,
             unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    c AS (
      SELECT lang, source, tok, count(*) AS c
      FROM t GROUP BY 1, 2, 3
    )
    SELECT lang, source,
           CAST(sum(c) AS BIGINT)                            AS total_tokens,
           count(*)                                          AS vocab,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6)    AS entropy_nats
    FROM c GROUP BY lang, source
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per (lang, source)
    slice -- the corpus-diversity diagnostic (low entropy = templated
    or repetitive source; a drop between snapshots flags collapse).
    Uses the algebraic identity H = ln T - (sum c*ln c)/T so entropy
    falls out of ONE aggregation over per-token counts: token counts
    partial-aggregate map-side on (lang, source, tok), then the slice
    rollup is a second tiny aggregation -- no per-token probability
    join, no second scan of the corpus."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "lang", "source", F.explode(_toks(F.col("text"))).alias("tok")
    )
    c = t.groupBy("lang", "source", "tok").agg(F.count("*").alias("c"))
    return c.groupBy("lang", "source").agg(
        F.sum("c").alias("total_tokens"),
        F.count("*").alias("vocab"),
        F.round(
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
            6,
        ).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# Source-vs-corpus distribution shift (KL divergence)
# ---------------------------------------------------------------------------
@query(
    "text_source_divergence",
    oracle=r"""
    WITH t AS (
      SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    s AS (SELECT source, tok, count(*) AS cs FROM t GROUP BY 1, 2),
    st AS (SELECT source, sum(cs) AS ts FROM s GROUP BY 1),
    g AS (SELECT tok, sum(cs) AS cg FROM s GROUP BY 1),
    gt AS (SELECT sum(cg) AS tg FROM g)
    SELECT s.source,
           CAST(st.ts AS BIGINT)                     AS total_tokens,
           round(sum((CAST(s.cs AS DOUBLE) / st.ts)
                     * ln((CAST(s.cs AS DOUBLE) / st.ts)
                          / (CAST(g.cg AS DOUBLE) / gt.tg))), 6)
             AS kl_vs_corpus_nats
    FROM s
    JOIN st ON s.source = st.source
    JOIN g  ON s.tok = g.tok
    CROSS JOIN gt
    GROUP BY s.source, st.ts
    """,
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's token distribution from the
    whole-corpus distribution -- the distribution-shift monitor that
    catches a crawler or source going off the rails between snapshots.
    One explode feeds per-(source, token) counts; the corpus marginal
    is a second aggregation OF THOSE COUNTS (vocabulary-sized, never
    rescanning the corpus); the final join is token-keyed against the
    vocabulary table with the two totals broadcast.  KL >= 0 always;
    a source identical to the corpus mix scores ~0."""
    d = _docs(spark, sf_dir)
    t = d.select("source", F.explode(_toks(F.col("text"))).alias("tok"))
    s = t.groupBy("source", "tok").agg(F.count("*").alias("cs"))
    st = s.groupBy("source").agg(F.sum("cs").alias("ts"))
    g = s.groupBy("tok").agg(F.sum("cs").alias("cg"))
    gt = g.agg(F.sum("cg").alias("tg"))
    ps = F.col("cs").cast("double") / F.col("ts")
    pg = F.col("cg").cast("double") / F.col("tg")
    return (
        s.join(F.broadcast(st), "source")
        .join(g, "tok")
        .crossJoin(F.broadcast(gt))
        .groupBy("source", "ts")
        .agg(F.round(F.sum(ps * F.log(ps / pg)), 6).alias("kl_vs_corpus_nats"))
        .select(
            "source",
            F.col("ts").alias("total_tokens"),
            "kl_vs_corpus_nats",
        )
    )


# ---------------------------------------------------------------------------
# Document-level token co-occurrence / PMI
# ---------------------------------------------------------------------------
_PMI_TOP = 20


@query(
    "token_pmi",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(text), '\s+')))
               AS w
      FROM documents
    ), c AS (
      SELECT w, count(*) AS cw FROM t GROUP BY 1
    ), pr AS (
      SELECT t1.w AS a, t2.w AS b, count(*) AS cab
      FROM t t1 JOIN t t2 ON t1.doc_id = t2.doc_id AND t1.w < t2.w
      GROUP BY 1, 2
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT a, b, cab,
           round(ln(cab * n_docs / CAST(ca.cw * cb.cw AS DOUBLE)), 6)
             AS pmi_nats
    FROM pr JOIN c ca ON pr.a = ca.w JOIN c cb ON pr.b = cb.w, n
    ORDER BY cab DESC, a, b LIMIT {_PMI_TOP}
    """,
)
def token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token co-occurrence with pointwise mutual
    information -- the statistic word-embedding pipelines (word2vec /
    GloVe preprocessing) and collocation extraction compute over a
    corpus: for token pair (a, b), PMI = ln(P(a,b) / (P(a)P(b))) with
    probabilities as document frequencies.  Top pairs by co-document
    count, full deterministic tie-break.

    Scale: the pair generation is a SELF-JOIN ON doc_id over each
    document's DISTINCT token set, so the blow-up is bounded by
    per-document vocabulary (never all-pairs across the corpus), and
    it shuffle-partitions on doc_id.  Token document-frequencies are
    one partial-agg pass; the per-pair stats join broadcasts the
    (vocabulary-sized) frequency table.  A degree cap on ubiquitous
    tokens (stopword-class df filter) is the standard guard when the
    vocabulary has heavy hitters; ln() is evaluated on one exact
    integer ratio per pair, rounded like every float aggregate here.
    """
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id", F.explode(F.array_distinct(_toks(F.col("text")))).alias("w")
    )
    c = t.groupBy("w").agg(F.count("*").alias("cw"))
    t1 = t.select("doc_id", F.col("w").alias("a"))
    t2 = t.select("doc_id", F.col("w").alias("b"))
    pr = (
        t1.join(t2, ["doc_id"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cab"))
    )
    n = d.agg(F.count("*").alias("n_docs"))
    ca = c.select(F.col("w").alias("a"), F.col("cw").alias("ca"))
    cb = c.select(F.col("w").alias("b"), F.col("cw").alias("cb"))
    return (
        pr.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .join(F.broadcast(n))
        .select(
            "a",
            "b",
            "cab",
            F.round(
                F.log(
                    F.col("cab")
                    * F.col("n_docs")
                    / (F.col("ca") * F.col("cb")).cast("double")
                ),
                6,
            ).alias("pmi_nats"),
        )
        .orderBy(F.col("cab").desc(), "a", "b")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------
_BM25_TERMS = ("spark", "query", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP = 10
# One scoring expression string parsed by BOTH engines (F.expr on the
# Spark side, inline SQL in the oracle), so the float arithmetic tree
# is structurally identical and the rounded scores agree bit-for-bit.
_BM25_SCORE = (
    f"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
    f" * (tf * ({_BM25_K1} + 1.0))"
    f" / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
)


@query(
    "text_bm25_search",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY 1
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             (SELECT avg(dl) FROM dl) AS avgdl
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM toks WHERE tok IN {_BM25_TERMS!r}
      GROUP BY 1, 2
    ), df AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id,
             sum({_BM25_SCORE}) AS score
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), stats
      GROUP BY 1
    )
    SELECT doc_id, round(score, 4) AS bm25
    FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT {_BM25_TOP}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for the fixed query {terms}: the
    Okapi scoring function (k1={k1}, b={b}) over corpus term
    statistics -- the classic IR ranking behind quality-biased
    pretraining-data selection and retrieval-augmented pipelines,
    and the consumer of text_inverted_index's postings.

    Scale: term frequencies restrict to the query terms AT THE SCAN
    (the IN filter pushes into the token explode, so the tf shuffle
    carries query-term postings only, not the whole corpus
    vocabulary); document lengths are one partial-agg pass; df and
    the corpus stats are tiny broadcasts; the score is a single
    shared SQL expression string parsed by both engines, summed per
    doc, TakeOrdered top-{top} on the rounded score with doc_id
    tie-break."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(_toks(F.col("text"))).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(
        F.count("*").cast("double").alias("dl")
    )
    stats = d.agg(F.count("*").cast("double").alias("n_docs")).join(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(F.expr(_BM25_SCORE)).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_TOP)
    )


text_bm25_search.__doc__ = text_bm25_search.__doc__.format(
    terms=_BM25_TERMS, k1=_BM25_K1, b=_BM25_B, top=_BM25_TOP
)


# ---------------------------------------------------------------------------
# BPE training step (adjacent-pair counting + merge selection)
# ---------------------------------------------------------------------------
_BPE_TOP = 20


@query(
    "bpe_merge_step",
    oracle=f"""
    WITH w AS (
      SELECT tok AS word, count(*) AS wc FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
      ) WHERE length(tok) >= 2
      GROUP BY tok
    ),
    pairs AS (
      SELECT word, wc,
             unnest(list_transform(range(1, length(word)),
                    i -> substring(word, i, 2))) AS pair
      FROM w
    )
    SELECT pair,
           CAST(sum(wc) AS BIGINT) AS pair_count,
           count(DISTINCT word)    AS n_words
    FROM pairs
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT {_BPE_TOP}
    """,
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration, the distributed way: count every
    adjacent character pair across the corpus weighted by word
    frequency and emit the top {top} merge candidates (the head of
    this list IS the next merge rule a byte-pair-encoding tokenizer
    would adopt).  Counting pairs over the word-frequency table
    instead of raw text is the classic BPE trick -- the corpus
    collapses to its vocabulary before any quadratic-ish character
    work happens.

    Scale: the word-count aggregate is vocabulary-bounded (partial
    agg eats the corpus volume map-side); the pair fan-out runs over
    VOCAB rows, not corpus rows, so its cost is independent of corpus
    size; selection is a TakeOrdered on (count, pair) -- unique,
    hence engine-deterministic -- with no global sort.  This is why
    real tokenizer training over 100 TB is feasible: every iteration
    is O(vocab), and only the initial word count ever sees the
    data."""
    d = read_table(spark, sf_dir, "documents")
    w = (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    pairs = w.select(
        "word",
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wc").cast("bigint").alias("pair_count"),
            F.countDistinct("word").alias("n_words"),
        )
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(_BPE_TOP)
    )


bpe_merge_step.__doc__ = bpe_merge_step.__doc__.format(top=_BPE_TOP)


# ---------------------------------------------------------------------------
# Corpus novelty profile: per-source share of trigram types whose FIRST
# corpus occurrence (by ingest order = doc_id) is in that source's docs
# ---------------------------------------------------------------------------
@query(
    "ngram_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS t
      FROM documents
    ),
    tri AS (
      SELECT DISTINCT doc_id, source,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    marked AS (
      SELECT doc_id, source,
             CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY g)
                  THEN 1 ELSE 0 END AS is_novel
      FROM tri
    ),
    per_doc AS (
      SELECT doc_id, source, count(*) AS n_g, sum(is_novel) AS n_novel
      FROM marked GROUP BY doc_id, source
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_novel) AS BIGINT) AS novel_trigrams,
           CAST(sum(n_g) AS BIGINT) AS total_trigrams,
           round(CAST(sum(n_novel) AS DOUBLE) / sum(n_g), 6) AS novelty_rate
    FROM per_doc GROUP BY source
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: of each document's distinct word
    trigrams, how many are seen for the FIRST time in the corpus
    (first occurrence = lowest doc_id, i.e. ingest order)?  Sources
    whose novelty rate collapses are re-crawling already-seen text --
    the curation signal behind "dedup before you mix" (cf. RefinedWeb
    / Gopher corpus analyses); the complementary per-doc form drives
    repetition-aware sampling.

    Scale: trigram fan-out is linear in tokens; first-occurrence is a
    single min-over-window keyed by trigram (ONE shuffle on the
    trigram -- no groupBy + join-back second pass), then per-doc and
    per-source partial-aggregating rollups.  The novelty ratio is
    emitted as a ratio of exact integer sums (one double division),
    never an avg of per-doc doubles, so the value is bit-stable
    across engines and partitionings."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.lower(F.col("text")), r"\s+").alias("t")
    )
    tri = (
        d.select(
            "doc_id",
            "source",
            F.explode(
                F.when(
                    F.size("t") >= 3,
                    F.transform(
                        F.sequence(F.lit(0), F.size("t") - 3),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("t", i + 1),
                            F.element_at("t", i + 2),
                            F.element_at("t", i + 3),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        )
        .distinct()
    )
    wg = Window.partitionBy("g")
    marked = tri.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") == F.min("doc_id").over(wg), 1)
        .otherwise(0)
        .alias("is_novel"),
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_g"), F.sum("is_novel").alias("n_novel")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_novel").cast("bigint").alias("novel_trigrams"),
        F.sum("n_g").cast("bigint").alias("total_trigrams"),
        F.round(
            F.sum("n_novel").cast("double") / F.sum("n_g"), 6
        ).alias("novelty_rate"),
    )


# ---------------------------------------------------------------------------
# Gopher-style rule filter report (Rae et al. 2021, public quality rules)
# ---------------------------------------------------------------------------
_GOPHER_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with", "it", "in",
)


@query(
    "quality_gopher_rules",
    oracle=rf"""
    WITH feat AS (
      SELECT source,
             string_split_regex(trim(lower(text)), '\s+') AS t,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis
      FROM documents
    ),
    rules AS (
      SELECT source,
             len(t) AS n_words,
             CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
               / len(t) AS mean_wl,
             CAST(n_hash + n_ellipsis AS DOUBLE) / len(t) AS sym_ratio,
             CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                  AS DOUBLE) / len(t) AS alpha_ratio,
             len(list_filter(
                 t, x -> list_contains({list(_GOPHER_STOPWORDS)!r}, x)
             )) AS n_stop
      FROM feat
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_words < 50 OR n_words > 100000
                    THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
           CAST(sum(CASE WHEN mean_wl < 3 OR mean_wl > 10
                    THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(CASE WHEN sym_ratio >= 0.1
                    THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol_ratio,
           CAST(sum(CASE WHEN alpha_ratio < 0.8
                    THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha_words,
           CAST(sum(CASE WHEN n_stop < 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
           CAST(sum(CASE WHEN n_words BETWEEN 50 AND 100000
                          AND mean_wl BETWEEN 3 AND 10
                          AND sym_ratio < 0.1
                          AND alpha_ratio >= 0.8
                          AND n_stop >= 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM rules GROUP BY source
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source report of the Gopher corpus-filter rules (Rae et
    al. 2021, the published rule set behind MassiveText): word-count
    bounds, mean word length 3-10, symbol-to-word ratio (# and
    ellipsis) < 0.1, >= 80% words containing an alphabetic char, and
    >= 2 stopword hits.  Complements text_quality (raw ratios) with
    the thresholded accept/reject decisions a curation run applies.

    Scale: zero-shuffle per-doc feature extraction (one regex split
    staged once, higher-order array folds -- all JVM-side, no UDF)
    followed by one partial-aggregating rollup on source.  Every
    per-doc ratio is a single integer/integer division, so the
    threshold comparisons are bit-identical across engines and
    partitionings."""
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    feat = read_table(spark, sf_dir, "documents").select(
        "source",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"),
        (
            F.length("text") - F.length(F.replace("text", F.lit("#")))
        ).alias("n_hash"),
        (
            (F.length("text") - F.length(F.replace("text", F.lit("..."))))
            / F.lit(3)
        ).cast("long").alias("n_ellipsis"),
    )
    rules = feat.select(
        "source",
        F.size("t").alias("n_words"),
        (
            F.aggregate(
                "t", F.lit(0), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / F.size("t")
        ).alias("mean_wl"),
        (
            (F.col("n_hash") + F.col("n_ellipsis")).cast("double")
            / F.size("t")
        ).alias("sym_ratio"),
        (
            F.size(F.filter("t", lambda x: x.rlike("[a-z]"))).cast("double")
            / F.size("t")
        ).alias("alpha_ratio"),
        F.size(
            F.filter("t", lambda x: F.array_contains(stop_arr, x))
        ).alias("n_stop"),
    )
    fail = lambda cond, name: F.sum(  # noqa: E731
        F.when(cond, 1).otherwise(0)
    ).cast("bigint").alias(name)
    return rules.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        fail(
            (F.col("n_words") < 50) | (F.col("n_words") > 100000),
            "fail_word_count",
        ),
        fail(
            (F.col("mean_wl") < 3) | (F.col("mean_wl") > 10),
            "fail_mean_word_len",
        ),
        fail(F.col("sym_ratio") >= 0.1, "fail_symbol_ratio"),
        fail(F.col("alpha_ratio") < 0.8, "fail_alpha_words"),
        fail(F.col("n_stop") < 2, "fail_stopwords"),
        fail(
            F.col("n_words").between(50, 100000)
            & F.col("mean_wl").between(3, 10)
            & (F.col("sym_ratio") < 0.1)
            & (F.col("alpha_ratio") >= 0.8)
            & (F.col("n_stop") >= 2),
            "pass_all",
        ),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate against the corpus top-K vocabulary
# ---------------------------------------------------------------------------
_VOCAB_K = 256


@query(
    "vocab_coverage",
    oracle=rf"""
    WITH st AS (
      SELECT source, tok, count(*) AS n
      FROM (
        SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ) GROUP BY source, tok
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, sum(n) AS wc FROM st GROUP BY tok
        ORDER BY wc DESC, tok LIMIT {_VOCAB_K}
      )
    )
    SELECT st.source,
           CAST(sum(st.n) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.tok IS NOT NULL THEN st.n ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           round(1.0 - CAST(sum(CASE WHEN v.tok IS NOT NULL THEN st.n
                                     ELSE 0 END) AS DOUBLE) / sum(st.n),
                 6) AS oov_rate
    FROM st LEFT JOIN vocab v ON st.tok = v.tok
    GROUP BY st.source
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus's own
    top-{k} token vocabulary -- the tokenizer-fit diagnostic run
    before committing a vocab: sources with high OOV either need
    vocab budget or are noise (cf. SentencePiece / BPE coverage
    reports).

    Scale: raw token instances collapse to (source, token) partial
    counts in the FIRST shuffle; the global vocabulary derives from
    those partials (token-keyed rollup + top-K on the already-tiny
    aggregate), and coverage is a broadcast membership join against
    the {k}-row vocab -- the corpus is tokenized exactly once, and
    nothing after the first aggregate is data-scale.  Ties at the
    vocab boundary break on the token string, so the vocabulary is
    deterministic across engines and partitionings."""
    st = (
        read_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
        # Two consumers (vocab derivation + coverage rollup) share
        # this frame; materialize the partial counts ONCE so the
        # corpus is tokenized a single time, not re-derived per
        # branch (the no-plan-reuse trap; plan-pinned in tests).
        .localCheckpoint()
    )
    vocab = (
        st.groupBy("tok")
        .agg(F.sum("n").alias("wc"))
        .orderBy(F.col("wc").desc(), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        st.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("in_vocab").isNotNull(), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("covered_tokens"),
            F.round(
                F.lit(1.0)
                - F.sum(
                    F.when(
                        F.col("in_vocab").isNotNull(), F.col("n")
                    ).otherwise(0)
                ).cast("double")
                / F.sum("n"),
                6,
            ).alias("oov_rate"),
        )
    )


vocab_coverage.__doc__ = vocab_coverage.__doc__.format(k=_VOCAB_K)


# ---------------------------------------------------------------------------
# RAG-prep chunking: overlapping token windows with stable identities
# ---------------------------------------------------------------------------
_CHUNK_W = 64  # tokens per chunk
_CHUNK_S = 48  # stride (overlap = W - S)


@query(
    "chunk_documents",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) / {_CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(len(toks[s : s + {_CHUNK_W - 1}]) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[s : s + {_CHUNK_W - 1}], ' '))
               AS chunk_md5
    FROM t, UNNEST(generate_series(1, len(toks), {_CHUNK_S})) AS u(s)
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding/RAG-prep chunking: each document splits into
    {w}-token windows at stride {s} ({o}-token overlap so no span is
    lost at a boundary), each chunk carrying a stable content
    fingerprint -- the fan-out every retrieval pipeline runs between
    curation and embedding, and the id discipline that lets chunk
    vectors be re-derived/deduped incrementally.

    Scale: pure per-row fan-out (sequence + slice higher-order ops,
    all JVM-side), zero shuffles -- output partitioning inherits the
    scan.  Chunk count is ceil(tokens/stride): work is linear in
    corpus tokens with no materialized intermediate text beyond each
    chunk row."""
    toks = F.col("toks")
    chunk = lambda s: F.slice(toks, s, _CHUNK_W)  # noqa: E731
    return (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size(toks), F.lit(_CHUNK_S))
            ).alias("s"),
            toks,
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / _CHUNK_S).cast("bigint").alias("chunk_idx"),
            F.size(chunk(F.col("s"))).cast("bigint").alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk(F.col("s")))).alias("chunk_md5"),
        )
    )


chunk_documents.__doc__ = chunk_documents.__doc__.format(
    w=_CHUNK_W, s=_CHUNK_S, o=_CHUNK_W - _CHUNK_S
)


# ---------------------------------------------------------------------------
# BPE ENCODE path: apply an ordered merge table to the corpus
# ---------------------------------------------------------------------------
# (a, b) -> ab, applied in table order -- the complement of
# bpe_merge_step (which LEARNS the next merge).
_BPE_MERGES = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"),
    ("a", "n"), ("o", "n"), ("r", "e"), ("a", "t"),
)


def _bpe_apply_sql(expr: str) -> str:
    s = expr
    for a, b in _BPE_MERGES:
        s = f"replace({s}, ' {a} {b} ', ' {a}{b} ')"
    return s


_BPE_SPACED_SQL = (
    "(' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ')"
)


@query(
    "bpe_encode_fixed",
    oracle=rf"""
    WITH words AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    wc AS (SELECT source, w, count(*) AS c FROM words GROUP BY 1, 2),
    vocab AS (SELECT DISTINCT w FROM wc),
    enc AS (
      SELECT w,
             len(string_split_regex(trim({_bpe_apply_sql(_BPE_SPACED_SQL)}),
                 '\s+')) AS n_sym,
             length(w) AS n_chars
      FROM vocab
    )
    SELECT wc.source,
           CAST(sum(wc.c) AS BIGINT) AS word_instances,
           CAST(sum(wc.c * enc.n_chars) AS BIGINT) AS char_instances,
           CAST(sum(wc.c * enc.n_sym) AS BIGINT) AS token_instances,
           round(CAST(sum(wc.c * enc.n_sym) AS DOUBLE)
                 / sum(wc.c * enc.n_chars), 4) AS tokens_per_char
    FROM wc JOIN enc ON enc.w = wc.w
    GROUP BY wc.source
    """,
)
def bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE path: tokenize the corpus under a fixed ordered
    merge table ({n} merges) -- the serving-side complement of
    bpe_merge_step's training iteration, and the compression
    measurement (tokens per char, per source) a tokenizer rollout
    reports.  Each merge is a simultaneous left-to-right pairwise
    replace over the space-separated symbol string, exactly BPE's
    apply step.

    Scale: the classic BPE working-set trick -- encoding runs on the
    DISTINCT word table (vocabulary-sized, shuffles once on the
    word), never per word instance; per-source totals come from the
    (source, word) count partials joined to the encoded lengths.
    Emitted ratios divide exact integer sums, so values are
    bit-stable under any partitioning."""
    words = (
        read_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "source",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w"),
        )
    )
    wc = words.groupBy("source", "w").agg(F.count("*").alias("c"))
    vocab = wc.select("w").distinct()
    spaced = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
        F.lit(" "),
    )
    enc_expr = spaced
    for a, b in _BPE_MERGES:
        enc_expr = F.replace(
            enc_expr, F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        )
    enc = vocab.select(
        "w",
        F.size(F.split(F.trim(enc_expr), r"\s+")).alias("n_sym"),
        F.length("w").alias("n_chars"),
    )
    return (
        wc.join(enc, "w")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("word_instances"),
            F.sum(F.col("c") * F.col("n_chars"))
            .cast("bigint")
            .alias("char_instances"),
            F.sum(F.col("c") * F.col("n_sym"))
            .cast("bigint")
            .alias("token_instances"),
            F.round(
                F.sum(F.col("c") * F.col("n_sym")).cast("double")
                / F.sum(F.col("c") * F.col("n_chars")),
                4,
            ).alias("tokens_per_char"),
        )
    )


bpe_encode_fixed.__doc__ = bpe_encode_fixed.__doc__.format(
    n=len(_BPE_MERGES)
)


# ---------------------------------------------------------------------------
# Zipf's-law fit over the corpus token distribution
# ---------------------------------------------------------------------------
_ZIPF_K = 128  # fit over the top-K tokens


@query(
    "text_zipf_slope",
    oracle=rf"""
    WITH wc AS (
      SELECT tok, count(*) AS c FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ) GROUP BY tok
    ),
    top AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
      FROM wc ORDER BY c DESC, tok LIMIT {_ZIPF_K}
    ),
    pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
            FROM top),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
               AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 4) AS intercept
    FROM m
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: OLS slope of log(frequency) on
    log(rank) over the corpus's top-{k} tokens -- natural language
    sits near -1; a slope far from it flags synthetic, templated, or
    boilerplate-heavy corpora (a standard pre-training corpus-health
    check alongside entropy and repetition).

    Scale: token counts are one partial-aggregating shuffle; the
    rank/fit runs entirely on the top-{k} rows (TakeOrdered, ties on
    the token string), so nothing past the first aggregate scales
    with the corpus.  The closed-form OLS is stated as one expression
    over the {k}-row sums, identical in both engines."""
    from pyspark.sql.window import Window

    wc = (
        read_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    top = (
        wc.orderBy(F.col("c").desc(), "tok")
        .limit(_ZIPF_K)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), "tok")
            ),
        )
    )
    pts = top.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


text_zipf_slope.__doc__ = text_zipf_slope.__doc__.format(k=_ZIPF_K)


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix of prediction vs label
# ---------------------------------------------------------------------------
@query(
    "langid_confusion",
    oracle=rf"""
    WITH t AS (
      SELECT lang,
             CASE WHEN CAST(len(list_filter(
                      string_split_regex(lower(text), '\s+'),
                      x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                   / len(string_split_regex(lower(text), '\s+')) >= 0.05
                  THEN 'en' ELSE 'unknown' END AS pred_lang
      FROM documents
      WHERE len(string_split_regex(lower(text), '\s+')) > 0
    )
    SELECT lang AS true_lang, pred_lang, count(*) AS n,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY lang), 4) AS row_frac
    FROM t GROUP BY 1, 2
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    labeled language, with per-true-class row fractions (recall on
    the diagonal) -- the evaluation every classifier iteration reads
    before touching the threshold, and the completion of the langid
    story: text_langid makes the predictions, this query scores them.

    One pass of the same HOF stopword-ratio predictor (no explode,
    no shuffle until the tiny (true, pred) grid aggregate); the
    row-normalizing window runs over the class-count frame (bounded
    by |langs| x |preds|).  Fractions are ratios of exact counts --
    engine-identical before rounding."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    staged = d.select(
        "lang",
        F.size(_toks(F.col("text"))).alias("n_tokens"),
        F.size(
            F.filter(_toks(F.col("text")), lambda x: x.isin(*STOPWORDS))
        ).alias("n_stop"),
    ).filter(F.col("n_tokens") > 0)
    pred = staged.select(
        "lang",
        F.when(
            F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.05, "en"
        )
        .otherwise("unknown")
        .alias("pred_lang"),
    )
    grid = pred.groupBy(
        F.col("lang").alias("true_lang"), "pred_lang"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("true_lang")
    return grid.select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(w), 4).alias("row_frac"),
    )


# ---------------------------------------------------------------------------
# Collocation mining: integer-lift PMI ranking of adjacent word pairs
# ---------------------------------------------------------------------------
_PMI_MIN = 10
_PMI_TOP = 20
_PMI_SCALE = 1_000_000


@query(
    "text_collocations_pmi",
    oracle=rf"""
    WITH t AS (
      SELECT string_split_regex(lower(text), '\s+') AS toks FROM documents
    ),
    big AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS bg
      FROM t WHERE len(toks) >= 2
    ),
    c12 AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n12
            FROM big GROUP BY 1, 2),
    lm AS (SELECT w1 AS w, CAST(sum(n12) AS BIGINT) AS n FROM c12
           GROUP BY 1),
    rm AS (SELECT w2 AS w, CAST(sum(n12) AS BIGINT) AS n FROM c12
           GROUP BY 1),
    tot AS (SELECT CAST(sum(n12) AS BIGINT) AS big_n FROM c12),
    scored AS (
      SELECT c12.w1, c12.w2, c12.n12, a.n AS n1, b.n AS n2,
             (c12.n12 * t.big_n * {_PMI_SCALE}) // (a.n * b.n) AS lift_ppm
      FROM c12 JOIN lm a ON c12.w1 = a.w
               JOIN rm b ON c12.w2 = b.w
               CROSS JOIN tot t
      WHERE c12.n12 >= {_PMI_MIN}
    )
    SELECT w1, w2, n12, n1, n2, lift_ppm
    FROM scored ORDER BY lift_ppm DESC, w1, w2 LIMIT {_PMI_TOP}
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} collocations: adjacent word pairs ranked by
    pointwise-mutual-information LIFT -- P(w1,w2) / (P(w1) P(w2)),
    the multiword-expression miner behind tokenizer-merge candidates
    and phrase vocabularies.  A minimum pair count of {mn} suppresses
    the small-sample PMI explosion (hapax pairs otherwise always
    win).

    Scale shape: ONE corpus pass -- the bigram count table is the
    only data-scale aggregation, and the slot marginals P(w in left
    position) / P(w in right position), the grand total, and the
    score join all derive from that vocabulary-bounded table (the
    standard bigram-joint PMI estimate); the 1-row total broadcasts.
    Ranking is integer-exact
    cross-engine: lift is carried as floor(n12 * N * {sc} /
    (n1 * n2)) in BIGINT -- a monotone transform of PMI, so the
    ordering is the PMI ordering with no float anywhere -- and the
    top-{top} cutoff tie-breaks on the words."""
    d = _docs(spark, sf_dir)
    toks_arr = d.select(_toks(F.col("text")).alias("toks"))
    toks = F.col("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    c12 = (
        toks_arr.filter(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n12"))
        .localCheckpoint(eager=True)  # bounded by vocab^2-observed;
        # marginals, total and scoring all reuse it -- ONE corpus pass
    )
    a = c12.groupBy(F.col("w1")).agg(
        F.sum("n12").cast("bigint").alias("n1")
    )
    b = c12.groupBy(F.col("w2")).agg(
        F.sum("n12").cast("bigint").alias("n2")
    )
    tot = c12.agg(F.sum("n12").cast("bigint").alias("big_n"))
    scored = (
        c12.filter(F.col("n12") >= _PMI_MIN)
        .join(a, "w1")
        .join(b, "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n12",
            "n1",
            "n2",
            F.expr(f"(n12 * big_n * {_PMI_SCALE}) div (n1 * n2)").alias(
                "lift_ppm"
            ),
        )
    )
    return scored.orderBy(
        F.col("lift_ppm").desc(), "w1", "w2"
    ).limit(_PMI_TOP)


# ---------------------------------------------------------------------------
# Token-weighted median document length (weighted order statistic)
# ---------------------------------------------------------------------------
@query(
    "token_weighted_median_len",
    oracle=r"""
    WITH v AS (
      SELECT CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
               AS doc_len
      FROM documents
    ),
    t AS (SELECT CAST(sum(doc_len) AS BIGINT) AS total_tokens,
                 CAST((sum(doc_len) + 1) // 2 AS BIGINT) AS target_w
          FROM v),
    o AS (
      SELECT doc_len,
             sum(doc_len) OVER (ORDER BY doc_len
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS runw
      FROM v
    )
    SELECT t.total_tokens, t.target_w,
           (SELECT min(doc_len) FROM o WHERE runw >= (SELECT target_w FROM t))
             AS median_token_doc_len
    FROM t
    """,
)
def token_weighted_median_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOKEN-weighted median document length: the length L such
    that half of all corpus TOKENS live in documents of length <= L.
    This is the statistic context-length planning actually needs --
    the unweighted median document is dominated by short docs, while
    the median token sits in a much longer one (compare
    seqlen_histogram's per-bucket masses; this is its exact scalar).

    Runs the shared histogram-narrowing selector in WEIGHT units
    (operators/selection.py::rank_select with weight=doc_len): each
    round's histogram sums token counts instead of row counts, so the
    constant-state/one-scan-per-round shape is unchanged, and the
    rounds narrow until the chosen bucket is the one length whose
    cumulative token mass crosses half the corpus.  The total, the
    target and the selector's bounds come from one aggregation; the
    one-row answer lands as a local relation.  The oracle brute-forces
    the cumulative weight with a global window -- affordable for
    DuckDB at test SF, exactly the plan the distributed form exists to
    avoid."""
    from ..operators.selection import rank_select

    d = _docs(spark, sf_dir)
    v = d.select(
        F.size(_toks(F.col("text"))).cast("bigint").alias("c")
    ).localCheckpoint(eager=True)

    t = v.agg(
        F.sum("c").cast("bigint").alias("total_tokens"),
        F.expr("(sum(c) + 1) div 2").cast("bigint").alias("target_w"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    ).first()
    sel = rank_select(v, {"wmed": t.target_w}, (t.lo, t.hi), bins=64, weight="c")
    return local_frame(
        spark,
        [(t.total_tokens, t.target_w, sel["wmed"])] if sel else [],
        "total_tokens bigint, target_w bigint, median_token_doc_len bigint",
    )


# ---------------------------------------------------------------------------
# Vocabulary growth curve (Heaps' law, by corpus-prefix checkpoints)
# ---------------------------------------------------------------------------
@query(
    "vocab_growth_heaps",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
      FROM documents
    ),
    bounds AS (
      SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS span
      FROM documents
    ),
    first_seen AS (
      SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w
    ),
    new_types AS (
      SELECT CAST((first_doc - lo) * 10 // span AS BIGINT) AS decile,
             count(*) AS n_new
      FROM first_seen CROSS JOIN bounds GROUP BY 1
    ),
    occ AS (
      SELECT CAST((doc_id - lo) * 10 // span AS BIGINT) AS decile,
             count(*) AS n_occ
      FROM tok CROSS JOIN bounds GROUP BY 1
    )
    SELECT o.decile,
           CAST(coalesce(t.n_new, 0) AS BIGINT) AS new_types,
           CAST(sum(coalesce(t.n_new, 0))
                OVER (ORDER BY o.decile) AS BIGINT) AS cum_types,
           CAST(o.n_occ AS BIGINT) AS bucket_tokens,
           CAST(sum(o.n_occ) OVER (ORDER BY o.decile) AS BIGINT)
             AS cum_tokens
    FROM occ o LEFT JOIN new_types t ON t.decile = o.decile
    ORDER BY o.decile
    """,
)
def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Heaps'-law vocabulary growth curve: at ten corpus-prefix
    checkpoints (doc-id range deciles -- ingest order), how many
    token occurrences have streamed past and how many DISTINCT token
    types have appeared.  The curve is the tokenizer-planning input
    (how fast does the vocab grow? is decile 9 still minting types,
    i.e. is the corpus OOV-heavy?) and an all-integer output, so the
    oracle match is engine-exact with no fitted float.

    Scale shape: a type's first appearance is min(doc_id) per token
    -- ONE map-side-combinable aggregation over the exploded token
    stream (the same explode the inverted index pays); both per-
    decile counts then reduce to 10 rows, and the cumulative sums are
    windows over those 10 rows, not over data.  No global sort, no
    per-prefix rescans (the naive form recounts distinct types per
    checkpoint -- 10 corpus passes)."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(_toks(F.col("text"))).alias("w")
    )
    bounds = F.broadcast(
        d.agg(
            F.min("doc_id").alias("lo"),
            (F.max("doc_id") - F.min("doc_id") + 1).alias("span"),
        )
    )
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    new_types = (
        first_seen.crossJoin(bounds)
        .select(
            F.expr("(first_doc - lo) * 10 div span")
            .cast("bigint")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_new"))
    )
    occ = (
        tok.crossJoin(bounds)
        .select(
            F.expr("(doc_id - lo) * 10 div span")
            .cast("bigint")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_occ"))
    )
    w10 = Window.orderBy("decile")  # 10 rows: bounded frame
    return (
        occ.join(new_types, "decile", "left")
        .select(
            "decile",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("new_types"),
            "n_occ",
        )
        .select(
            "decile",
            "new_types",
            F.sum("new_types").over(w10).cast("bigint").alias("cum_types"),
            F.col("n_occ").cast("bigint").alias("bucket_tokens"),
            F.sum("n_occ").over(w10).cast("bigint").alias("cum_tokens"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Corpus mixture concentration: Gini / HHI over per-source token mass
# ---------------------------------------------------------------------------
@query(
    "corpus_source_gini",
    oracle=r"""
    WITH per_src AS (
      SELECT source,
             CAST(sum(len(string_split_regex(lower(text), '\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT n_tokens,
             row_number() OVER (ORDER BY n_tokens, source) AS r
      FROM per_src
    )
    SELECT count(*)                          AS n_sources,
           CAST(sum(n_tokens) AS BIGINT)     AS total_tokens,
           round(2.0 * sum(r * n_tokens)
                 / (count(*) * sum(n_tokens))
                 - (count(*) + 1.0) / count(*), 4) AS gini,
           round(max(n_tokens) / CAST(sum(n_tokens) AS DOUBLE), 4)
             AS top1_share,
           round(sum(CAST(n_tokens AS DOUBLE) * n_tokens)
                 / (CAST(sum(n_tokens) AS DOUBLE) * sum(n_tokens)), 4)
             AS hhi
    FROM ranked
    """,
)
def corpus_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-concentration readout for the pretraining corpus: the
    Gini coefficient, top-1 share, and Herfindahl index of per-SOURCE
    token mass -- the one-row diagnostic a data-mixing pipeline
    (sample_mixture / mixture_waterfill) checks before and after
    re-weighting: a corpus whose token mass is dominated by one crawl
    source trains a model on that source's distribution no matter
    what the doc counts claim.

    Gini uses the exact rank identity G = 2*sum(r_i*m_i)/(n*sum m)
    - (n+1)/n over ascending-ordered masses (deterministic (mass,
    source) order, so engines agree on ties).

    Scale: tokens reduce per-source in ONE corpus scan (map-side
    combined size-of-split, nothing exploded); everything after runs
    on <= n_sources rows, where the rank window is bounded census
    math, not a data-sized sort."""
    per_src = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.lower(F.col("text")), r"\s+")))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    w = Window.orderBy("n_tokens", "source")  # <= n_sources rows
    ranked = per_src.select(
        "n_tokens", F.row_number().over(w).alias("r")
    )
    n = F.count("*")
    tot = F.sum("n_tokens")
    return ranked.agg(
        n.alias("n_sources"),
        tot.cast("bigint").alias("total_tokens"),
        F.round(
            F.lit(2.0) * F.sum(F.col("r") * F.col("n_tokens")) / (n * tot)
            - (n + F.lit(1.0)) / n,
            4,
        ).alias("gini"),
        F.round(F.max("n_tokens") / tot.cast("double"), 4).alias(
            "top1_share"
        ),
        F.round(
            F.sum(F.col("n_tokens").cast("double") * F.col("n_tokens"))
            / (tot.cast("double") * tot),
            4,
        ).alias("hhi"),
    )
