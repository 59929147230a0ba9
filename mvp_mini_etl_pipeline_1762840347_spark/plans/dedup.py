"""Deduplication operators over `documents` (north-star, SURVEY §2.10).

Generalizes the reference's only dedup artifact -- the
`dedup_removed = rows_in - rows_out` metric (reference
src/lib/users.js:68) -- into the dedup family a training-data
pipeline needs: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Portability-by-construction: all hashing bottoms out in md5 (identical
in Spark and DuckDB) plus integer modular arithmetic both engines
evaluate exactly, so every operator has a full value-checked oracle
(no engine-specific hash32/xxhash).

Scale notes
-----------
* Exact dedup: hash-aggregate on the normalized text -- one shuffle
  keyed by content, partial agg applies.
* MinHash/LSH: per-doc work is linear in tokens; the only pairwise
  step is an equi-join on (band, signature), i.e. candidates only --
  never the O(n^2) cross join.  At 100 TB the band join is a standard
  shuffle join whose key cardinality ~ #docs, and skew (a degenerate
  signature bucketing millions of docs) is handled by AQE skew split.
* SimHash: linear; fingerprints can then be self-joined on rotated
  prefixes for Hamming-radius candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from .registry import query

N_HASHES = 8
BAND_ROWS = 2  # 4 bands x 2 rows


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok) -- whitespace tokenization, lowercased."""
    toks = F.split(F.lower(F.col("text")), r"\s+")
    return docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))


def word3_shingles(toks) -> "F.Column":
    """THE word-3-gram shingle array over a token-array column -- the
    single shingle definition every builder composes (`_shingles`,
    `_shingle_array`, `corpus_doc_shingles`, quality's `_doc_shingles`
    and shingle stores), so the cache-on == cache-off parity argument
    for store-derived reroutes is STRUCTURAL, not four copies kept
    byte-identical by convention (ADVICE r11).

    The caller must materialize the token array in its own projection
    first: inlining the split() into the lambda makes Catalyst
    re-evaluate the regex split per element reference (3x per
    shingle) -- a ~10x slowdown observed at sf0.1."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )


def _shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) word-3-grams via array transform -- stays
    JVM-side (higher-order function, no Python).

    ``distinct=False`` skips the dedup shuffle for consumers whose
    aggregate is duplicate-insensitive (min-hash sketches).
    """
    toks = F.col("toks")
    out = (
        docs.select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("toks"))
        .filter(F.size(toks) >= 3)
        .select("doc_id", F.explode(word3_shingles(toks)).alias("shingle"))
    )
    return out.distinct() if distinct else out


def corpus_doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, sh: array<string>) -- every corpus document's
    DISTINCT word-3-gram shingles as a per-row array, the doc-keyed
    shingle STORE as a batch-window fragment (the same shape
    _curation_state commits as its ``doc_sh`` table).

    SIX registered queries re-derived this from text per run in the
    same batch window (the containment/verify/recall/prefix-filter
    joins, decontamination, the curation-state shingle stores), each
    paying the regex split + 3-gram transform again; production keeps
    the shingle store materialized next to the band store and every
    consumer probes it.  Per-doc pure, so any per-doc membership
    filter commutes with the shingling (the band-store rerouting
    argument).  With the cache off (tests, PLAN_AUDIT) every
    standalone plan is unchanged."""
    from .fragments import cached_frame

    def build() -> DataFrame:
        d = _docs(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
        toks = F.col("toks")
        return (
            d.select(
                "doc_id",
                "source",
                F.split(F.lower(F.col("text")), r"\s+").alias("toks"),
            )
            .filter(F.size(toks) >= 3)
            .select(
                "doc_id",
                "source",
                F.array_distinct(word3_shingles(toks)).alias("sh"),
            )
        )

    return cached_frame(spark, ("doc_shingles", sf_dir), build)


def _corpus_pair_shingles(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """DISTINCT (doc_id, shingle) pairs for the full corpus: the
    materialized shingle-store fragment exploded when the batch-window
    cache is on; the standalone text-scan plan (optionally spread over
    the cores first -- the single-file-input parallelism fix some
    callers need) when it is off."""
    from .fragments import fragment_cache_on

    if fragment_cache_on():
        return corpus_doc_shingles(spark, sf_dir).select(
            "doc_id", F.explode("sh").alias("shingle")
        )
    d = _docs(spark, sf_dir)
    if spread:
        d = d.repartition(spark.sparkContext.defaultParallelism)
    return _shingles(d)


def _shingle_array(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) -- the word-3-gram array kept as a
    per-row array (the narrow form of ``_shingles`` for consumers
    whose aggregate is an array fold, not a grouped shuffle).
    NON-distinct (positional multiset -- dup_span_fraction needs every
    occurrence)."""
    toks = F.col("toks")
    return (
        docs.select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("toks"))
        .filter(F.size(toks) >= 3)
        .select("doc_id", word3_shingles(toks).alias("sh"))
    )


# DuckDB fragment producing the same (doc_id, shingle) pairs.
_SHINGLES_SQL = r"""
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
            FROM documents)
      WHERE len(toks) >= 3
    )
"""


# ---------------------------------------------------------------------------
# Exact dedup on normalized content
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=r"""
    SELECT regexp_replace(lower(text), '\s+', ' ', 'g') AS norm_text,
           min(doc_id)   AS keep_doc_id,
           count(*) - 1  AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized text (lower + whitespace
    collapse), keep the first doc in ingest order.  Hash-aggregate on
    content -- the canonical exact-dedup shape at any scale.  (For
    100 TB keys, group on md5(norm_text) instead to shrink shuffle
    payload; kept raw here so the oracle is value-identical.)"""
    d = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.groupBy(norm.alias("norm_text")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        (F.count("*") - 1).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------
# Integer MinHash: ONE md5 per shingle (its first 8 hex chars as a
# 32-bit integer), then each of the 8 "permutations" is a cheap
# affine universal hash (A_s*h + B_s) mod P -- the production design:
# hashing cost is 1/8th of md5-per-seed, the min-aggregate compares
# integers instead of 32-char strings, and the shuffle rows shrink.
# Both engines evaluate the identical arithmetic (values < P ~ 2^30,
# products < 2^60: no bigint overflow under ANSI mode).
_MH_P = 1_000_000_007


def _mh_mult(seed: int) -> int:
    return (104_729 * seed + 976_369) % _MH_P


def _mh_add(seed: int) -> int:
    return (15_485_863 * seed + 32_452_843) % _MH_P


# DuckDB fragments: shingle -> reduced 32-bit hash; per-seed affine
# minhash; band signatures.  (The affine constants are generated from
# the seed by the same formula the Python helpers use.)
_HASHED_SQL = rf"""
      SELECT doc_id,
             ('0x' || substring(md5(shingle), 1, 8))::BIGINT % {_MH_P} AS h
      FROM ({_SHINGLES_SQL})
"""

_SIGS_SQL = rf"""
      SELECT doc_id, seed // {BAND_ROWS} AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS sig
      FROM (
        SELECT hs.doc_id, seeds.seed,
               min((((104729 * seeds.seed + 976369) % {_MH_P}) * hs.h
                    + ((15485863 * seeds.seed + 32452843) % {_MH_P}))
                   % {_MH_P}) AS mh
        FROM ({_HASHED_SQL}) hs,
             (SELECT unnest(range({N_HASHES})) AS seed) seeds
        GROUP BY hs.doc_id, seeds.seed
      )
      GROUP BY doc_id, seed // {BAND_ROWS}
"""

# Self-contained SQL producing the candidate pairs (reused by the
# clustering oracle in plans/graph.py).
_MINHASH_PAIRS_SQL = rf"""
    WITH sigs AS ({_SIGS_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                           AND a.doc_id < b.doc_id
    GROUP BY 1, 2
"""


def corpus_band_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus LSH band signatures -- the shared fragment behind
    every full-table candidate generation (minhash_pairs and the ~9
    dedup/graph/split queries built on it).

    Fragment-cached (plans/fragments.py): in a batch window the band
    signatures are computed from text ONCE and every consumer probes
    the materialized (doc_id, band, sig) store -- exactly the
    production layout, where the store is a bucketed table maintained
    by dedup_incremental.  With the cache off (the default; tests,
    PLAN_AUDIT) this is the plain lazy plan.

    The corpus is spread before the shingle+minhash partial
    aggregation: the single-file local table otherwise pins that map
    stage (the whole signature computation) to ONE task.  Production
    multi-file inputs provide the parallelism natively and the
    repartition coalesces to a no-op under AQE."""
    from .fragments import cached_frame, fragment_cache_on

    def build() -> DataFrame:
        if fragment_cache_on():
            # Derive the signatures from the materialized shingle
            # store instead of re-splitting text: minhash minima are
            # duplicate-insensitive, so the store's DISTINCT arrays
            # hash to identical signatures, and the one remaining
            # text scan of the window is the store build itself.
            return _band_signatures_from_pairs(
                _corpus_pair_shingles(spark, sf_dir)
            )
        return band_signatures(
            _docs(spark, sf_dir).repartition(
                spark.sparkContext.defaultParallelism
            )
        )

    return cached_frame(spark, ("band_sigs", sf_dir), build)


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs (doc_a, doc_b, n_shared_bands) --
    shared by the dedup query and the clustering operator; built on
    the fragment-cached full-corpus band signatures.  The PAIR SET is
    its own fragment too: ~8 consumers (dedup/graph/split/release
    families) otherwise re-execute the band-bucket self-join per
    query in a batch window (VERDICT r10 #2) -- production keeps the
    candidate-pair table materialized next to the band store."""
    from .fragments import cached_frame

    return cached_frame(
        spark,
        ("minhash_pairs", sf_dir),
        lambda: _pairs_from_sigs(corpus_band_signatures(spark, sf_dir)),
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer MinHash (one md5 per shingle, 8 affine universal-hash
    permutations) + LSH banding (4 bands x 2 rows): candidate near-dup
    pairs are docs agreeing on at least one full band signature.  The
    pairwise step is an equi-join on (band, sig) -- candidate pairs
    only, never O(n^2).

    Plan shape: the 8 minhashes are 8 aggregate *columns* over the
    shingle rows (map-side partial min per hash), so the only wide
    exchange carries one row per doc -- not the 8x-exploded
    (doc, seed, shingle) stream a naive implementation shuffles.
    Bands are then derived columns unpivoted with stack() (narrow)."""
    return minhash_pairs(spark, sf_dir)


def band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH band signatures -- the persisted unit
    of the incremental dedup path (see incremental_lsh_candidates).

    Signature computation stays in the exploded (doc_id, shingle)
    form: each shingle is md5'd ONCE into a reduced integer, and the
    8 per-seed minima are cheap affine universal hashes computed
    inside the partial (map-side) aggregation, which streams
    shingle-at-a-time.  The shuffle after partial agg carries one row
    of 8 ints per doc.  (The per-row array form lives in
    row_band_signatures for streaming; in batch the grouped form wins
    because the shingle array never materializes per row.)"""
    return _band_signatures_from_pairs(_shingles(docs, distinct=False))


def _band_signatures_from_pairs(sh: DataFrame) -> DataFrame:
    """band_signatures over an existing (doc_id, shingle) stream --
    shared by the text-scan path above and the shingle-store fragment
    path (minhash is duplicate-insensitive, so distinct or multiset
    input yields identical signatures)."""
    # ONE md5 per shingle, staged in its own projection (inlining it
    # would re-evaluate the hash once per referencing minhash column).
    h = (
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")
        % _MH_P
    )
    hashed = sh.select("doc_id", h.alias("h"))
    minhashes = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_mh_mult(s)) * F.col("h") + F.lit(_mh_add(s))) % _MH_P
            ).alias(f"mh{s}")
            for s in range(N_HASHES)
        ]
    )
    n_bands = N_HASHES // BAND_ROWS
    band_sigs = minhashes.select(
        "doc_id",
        *[
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
                )
            ).alias(f"sig{b}")
            for b in range(n_bands)
        ],
    )
    stack_args = ", ".join(f"{b}, sig{b}" for b in range(n_bands))
    return band_sigs.select(
        "doc_id", F.expr(f"stack({n_bands}, {stack_args}) AS (band, sig)")
    )


def _minhash_pairs_impl(docs: DataFrame) -> DataFrame:
    return _pairs_from_sigs(band_signatures(docs))


def _pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


# ---------------------------------------------------------------------------
# SimHash fingerprint (16-bit, md5-nibble based)
# ---------------------------------------------------------------------------
_HEX = "0123456789abcdef"


@query(
    "dedup_simhash",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    bits AS (
      SELECT t.doc_id, b.bitpos,
             CASE WHEN ((instr('{_HEX}', substring(md5(t.tok), b.bitpos // 4 + 1, 1)) - 1)
                        // CAST(pow(2, b.bitpos % 4) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE -1 END AS contrib
      FROM toks t, (SELECT unnest(range(16)) AS bitpos) b
    ),
    votes AS (
      SELECT doc_id, bitpos, sum(contrib) AS s FROM bits GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, bitpos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: each token votes +/-1 on every bit
    of its md5; fingerprint bit = sign of the vote sum.  Bits come
    from md5 hex nibbles so Spark and DuckDB agree exactly.  Linear in
    tokens (16x fan-out), no pairwise stage."""
    return corpus_simhash(spark, sf_dir)


def corpus_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) for the full corpus as a batch-window
    fragment: the Hamming-block query's SELF-JOIN otherwise executes
    the whole token fan-out + two-level vote aggregation once per join
    branch (Catalyst does not share subtrees across a self-join), and
    the plain fingerprint query recomputes it again -- production
    persists the fingerprint column next to the corpus.  Cache off
    (tests, PLAN_AUDIT): the standalone lazy plan, unchanged."""
    from .fragments import cached_frame

    return cached_frame(
        spark, ("simhash", sf_dir), lambda: _simhash_frame(spark, sf_dir)
    )


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(_docs(spark, sf_dir)).select("doc_id", "tok")
    # md5 materialized BEFORE the 16-way bit explode -- inlining it in
    # the same projection as explode() recomputes the hash per bit row.
    hashed = toks.select("doc_id", F.md5("tok").alias("h"))
    bits = hashed.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bitpos"),
        "h",
    )
    nibble = F.instr(
        F.lit(_HEX), F.substring(F.col("h"), (F.expr("bitpos div 4") + 1).cast("int"), 1)
    ) - 1
    contrib = F.when(
        (nibble / F.pow(F.lit(2), F.col("bitpos") % 4).cast("bigint")).cast("bigint") % 2
        == 1,
        1,
    ).otherwise(-1)
    votes = (
        bits.select("doc_id", "bitpos", contrib.alias("contrib"))
        .groupBy("doc_id", "bitpos")
        .agg(F.sum("contrib").alias("s"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2), F.col("bitpos")).cast("bigint"))
            .otherwise(0)
        ).alias("simhash")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard similarity between candidate doc pairs
# ---------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=rf"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sub AS (SELECT * FROM shingles WHERE doc_id < 100),
    sizes AS (SELECT doc_id, count(*) AS n FROM sub GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sub a JOIN sub b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter,
           round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard for every candidate pair among the first 100
    docs (bounded demo of the shingle-join pattern; production pairs
    come from the LSH candidates above, same join shape).  Intersection
    via shingle equi-join, union via inclusion-exclusion -- no cross
    join anywhere."""
    sub = _corpus_pair_shingles(spark, sf_dir).filter(F.col("doc_id") < 100)
    sizes = sub.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sub.alias("a"), sub.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Two-stage near-dup: LSH candidates verified by exact Jaccard
# ---------------------------------------------------------------------------
JACCARD_THRESHOLD = 0.4


@query(
    "dedup_verified_pairs",
    oracle=rf"""
    WITH cand AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ),
    shingles AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE)
                 / (za.n + zb.n - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup shape end-to-end: LSH generates
    candidates (cheap, high recall), exact shingle-Jaccard verifies
    them (precise, computed ONLY on candidates).  Verification joins
    the candidate pairs back to the shingle sets -- work is
    O(candidates x shingles-per-doc), never O(n^2) -- and keeps pairs
    at or above the similarity threshold.  This two-stage
    candidates->verify pattern is the scalable core of every fuzzy
    dedup at 100 TB."""
    cand = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh = _corpus_pair_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("b_doc"), F.col("shingle").alias("sh_b"))
    inter = (
        cand.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("b_doc")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.join(F.broadcast(za), "doc_a")
        .join(F.broadcast(zb), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Incremental LSH dedup (signature store + new-batch candidates)
# ---------------------------------------------------------------------------
def incremental_lsh_candidates(
    store_sigs: DataFrame, new_docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Daily-ingest dedup shape: candidates for a NEW batch of
    documents against an existing corpus, touching only the persisted
    band-signature store -- the full corpus text is never re-read and
    never re-hashed.

    Returns (candidate_pairs, new_sigs): pairs are (doc_a < doc_b,
    n_shared_bands) where at least one side is a new doc (new-new and
    new-old; old-old pairs were produced by earlier runs), and
    new_sigs is what the caller appends to the store.  The join keys
    on (band, sig) exactly like the batch path; at deploy scale the
    store is bucketed on (band, sig) so each day's candidate join is
    shuffle-free on the store side."""
    new_sigs = band_signatures(new_docs)
    all_sigs = store_sigs.unionByName(new_sigs)
    n, a = new_sigs.alias("n"), all_sigs.alias("a")
    pairs = (
        n.join(
            a,
            (F.col("n.band") == F.col("a.band"))
            & (F.col("n.sig") == F.col("a.sig"))
            & (F.col("n.doc_id") != F.col("a.doc_id")),
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("a.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("a.doc_id")).alias("doc_b"),
            F.col("n.band").alias("band"),
        )
        # a new-new pair matches twice per shared band (once from each
        # side); distinct on (pair, band) collapses that before counting
        .distinct()
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )
    return pairs, new_sigs


def row_band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) computed entirely PER ROW: the reduced
    shingle-hash array is built once per document (one md5 per
    shingle), each minhash is an ``array_min`` fold applying the
    affine permutation, bands are md5 of the concatenated minhashes,
    exploded with stack().  Produces byte-identical signatures to
    :func:`band_signatures` (same hashing; min over an array with
    duplicates == min over the distinct exploded rows).

    Its value is that it needs NO aggregation at all -- a streaming
    source can compute it statelessly, which a groupBy(doc_id) on a
    stream cannot do without watermark state (see
    streaming/jobs.py::lsh_candidates_stream)."""
    arr = _shingle_array(docs)
    # ONE md5 per shingle, staged as its own array column so the 8
    # per-seed folds reuse it instead of re-hashing.
    hs = F.transform(
        F.col("sh"),
        lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint")
        % _MH_P,
    )
    hashed = arr.select("doc_id", hs.alias("hs"))

    def _mh(seed: int):
        # closure factory: a 2-arg lambda (even via a default) would
        # make transform() pass the element INDEX as the second arg
        a, b = _mh_mult(seed), _mh_add(seed)
        return F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (F.lit(a) * h + F.lit(b)) % _MH_P,
            )
        )

    minhashes = hashed.select(
        "doc_id", *[_mh(s).alias(f"mh{s}") for s in range(N_HASHES)]
    )
    n_bands = N_HASHES // BAND_ROWS
    band_sigs = minhashes.select(
        "doc_id",
        *[
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
                )
            ).alias(f"sig{b}")
            for b in range(n_bands)
        ],
    )
    stack_args = ", ".join(f"{b}, sig{b}" for b in range(n_bands))
    return band_sigs.select(
        "doc_id", F.expr(f"stack({n_bands}, {stack_args}) AS (band, sig)")
    )


# ---------------------------------------------------------------------------
# SimHash Hamming-radius candidates (pigeonhole block join)
# ---------------------------------------------------------------------------
_SIMHASH_SQL = rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    bits AS (
      SELECT t.doc_id, b.bitpos,
             CASE WHEN ((instr('{_HEX}', substring(md5(t.tok), b.bitpos // 4 + 1, 1)) - 1)
                        // CAST(pow(2, b.bitpos % 4) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE -1 END AS contrib
      FROM toks t, (SELECT unnest(range(16)) AS bitpos) b
    ),
    votes AS (
      SELECT doc_id, bitpos, sum(contrib) AS s FROM bits GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, bitpos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
"""

HAMMING_RADIUS = 2


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH sh AS ({_SIMHASH_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_RADIUS}
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates within Hamming distance {radius} of the
    16-bit SimHash, WITHOUT the O(n^2) comparison: the fingerprint is
    split into 3 blocks (6+5+5 bits); by pigeonhole, any pair within
    distance 2 agrees exactly on at least one block, so candidates
    come from 3 equi-joins on (block_id, block_value) -- the
    multi-table LSH trick applied to Hamming space.  Exact distance
    then filters the small candidate set.  The oracle brute-forces
    all pairs (fine at test scale) proving the blocked join loses
    nothing."""
    sh = corpus_simhash(spark, sf_dir)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bid"), F.shiftright("simhash", 10).alias("bval")),
                F.struct(F.lit(1).alias("bid"), (F.shiftright("simhash", 5) % 32).alias("bval")),
                F.struct(F.lit(2).alias("bid"), (F.col("simhash") % 32).alias("bval")),
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.bid").alias("bid"), F.col("b.bval").alias("bval"))
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.bid") == F.col("b.bid"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_RADIUS)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: train docs sharing shingles with an eval set
# ---------------------------------------------------------------------------
_EVAL_SOURCE = "src19"  # stands in for the held-out benchmark corpus
_DECON_THRESHOLD = 0.5  # overlap ratio at/above which a doc is dropped


@query(
    "decontaminate_eval_overlap",
    oracle=rf"""
    WITH shingles AS ({_SHINGLES_SQL}),
    srcs AS (SELECT doc_id, source FROM documents),
    eval_sh AS (
      SELECT DISTINCT shingle
      FROM shingles JOIN srcs USING (doc_id)
      WHERE source = '{_EVAL_SOURCE}'
    ),
    train AS (
      SELECT s.doc_id, s.shingle
      FROM shingles s JOIN srcs d USING (doc_id)
      WHERE d.source <> '{_EVAL_SOURCE}'
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM train GROUP BY doc_id),
    ov AS (
      SELECT t.doc_id, count(*) AS n_overlap
      FROM train t JOIN eval_sh e ON t.shingle = e.shingle
      GROUP BY t.doc_id
    )
    SELECT o.doc_id,
           z.n AS n_shingles,
           o.n_overlap,
           round(CAST(o.n_overlap AS DOUBLE) / z.n, 4) AS overlap_ratio,
           CAST(o.n_overlap AS DOUBLE) / z.n >= {_DECON_THRESHOLD}
             AS is_contaminated
    FROM ov o JOIN sizes z ON z.doc_id = o.doc_id
    """,
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination -- the training-data hygiene pass that
    flags corpus documents sharing word-3-gram shingles with a held-out
    evaluation set (here: ``source = 'src19'`` stands in for the
    benchmark corpus).  Per surviving train doc: its distinct shingle
    count, how many of those shingles appear anywhere in the eval set,
    the overlap ratio, and the drop flag at the {thr} threshold --
    the n-gram-collision decontamination recipe used by public LLM
    corpus pipelines (GPT-3 appendix C / The Pile / Dolma all describe
    this shape).

    Scale shape: the eval side is tiny by nature (benchmarks, not the
    corpus), so its distinct-shingle set BROADCASTS and the 100-TB
    train side streams through one hash-semi-join + one per-doc
    aggregate -- no shuffle of the corpus beyond the per-doc groupBy,
    no pairwise stage anywhere.  At extreme eval sizes swap the
    broadcast for sketch_bloom_membership's bit-set (same join key,
    probabilistic prefilter + exact residual check)."""
    from .fragments import fragment_cache_on

    if fragment_cache_on():
        # batch-window path: probe the materialized shingle store
        # (identical values; see decontaminate_from_store)
        return decontaminate_from_store(corpus_doc_shingles(spark, sf_dir))
    docs = _docs(spark, sf_dir)
    return decontaminate_frame(
        docs.filter(F.col("source") != _EVAL_SOURCE),
        docs.filter(F.col("source") == _EVAL_SOURCE),
    )


decontaminate_eval_overlap.__doc__ = decontaminate_eval_overlap.__doc__.format(
    thr=_DECON_THRESHOLD
)


def decontaminate_frame(train_docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Frame-level decontamination core shared by the batch query above
    and the streaming foreachBatch twin (streaming/jobs.py::
    decontaminate_stream) -- ONE code path for backfill and live.

    Size + overlap fuse into ONE aggregate over a left join -- each
    side's shingle computation runs exactly once; a separate sizes/
    overlap join would re-derive the train shingles per branch.
    Per-doc dedup is NARROW (array_distinct on the per-row shingle
    array, not a global distinct), so the corpus side shuffles
    exactly once: the per-doc count aggregate."""
    # distinct=False: the per-doc dedup the default does is subsumed
    # by the shingle-level distinct right after (one shuffle, not two)
    eval_sh = (
        _shingles(eval_docs, distinct=False)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = _shingle_array(train_docs).select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("shingle")
    )
    return _decon_agg(train, eval_sh)


def decontaminate_from_store(doc_sh: DataFrame) -> DataFrame:
    """decontaminate_frame over the materialized doc-keyed shingle
    store (``corpus_doc_shingles`` / a committed ``doc_sh`` table,
    optionally membership-filtered): identical aggregate, zero text
    re-scans -- the store arrays are per-doc DISTINCT already, so the
    exploded stream matches decontaminate_frame's train side
    row-for-row and the per-doc counts are bit-identical."""
    eval_sh = (
        doc_sh.filter(F.col("source") == _EVAL_SOURCE)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = doc_sh.filter(F.col("source") != _EVAL_SOURCE).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    return _decon_agg(train, eval_sh)


def _decon_agg(train: DataFrame, eval_sh: DataFrame) -> DataFrame:
    ratio = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return (
        train.join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(ratio, 4).alias("overlap_ratio"),
            (ratio >= _DECON_THRESHOLD).alias("is_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Containment dedup (asymmetric near-dup: one doc inside another)
# ---------------------------------------------------------------------------
_CONTAIN_THRESHOLD = 0.6


@query(
    "dedup_containment",
    oracle=rf"""
    WITH cand AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})
    ),
    shingles AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / least(za.n, zb.n), 4)
             AS containment,
           CASE WHEN za.n < zb.n THEN i.doc_a
                WHEN zb.n < za.n THEN i.doc_b
                ELSE least(i.doc_a, i.doc_b) END AS contained_doc
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / least(za.n, zb.n)
          >= {_CONTAIN_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: shingle CONTAINMENT
    |A n B| / min(|A|, |B|) over the LSH candidate pairs -- the
    statistic that catches a document EMBEDDED inside another (full
    quotes, concatenated crawls, boilerplate-wrapped reposts), which
    symmetric Jaccard under-scores precisely when the size ratio is
    large.  Emits the containing relation and which doc is the
    contained one (the smaller shingle set; lower id on ties); the
    retention policy then keeps the superset document.

    Scale: identical two-stage candidates->verify shape as
    dedup_verified_pairs -- LSH bounds the pair set, the exact
    intersection joins only candidates to shingle sets, and the size
    table broadcast is vocabulary-bounded.  Only the final statistic
    differs (min-normalization instead of union-normalization)."""
    cand = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh = _corpus_pair_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("b_doc"), F.col("shingle").alias("sh_b")
    )
    inter = (
        cand.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("b_doc"))
            & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    contain = F.col("n_inter").cast("double") / F.least(
        F.col("na"), F.col("nb")
    )
    return (
        inter.join(F.broadcast(za), "doc_a")
        .join(F.broadcast(zb), "doc_b")
        .filter(contain >= _CONTAIN_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(contain, 4).alias("containment"),
            F.when(F.col("na") < F.col("nb"), F.col("doc_a"))
            .when(F.col("nb") < F.col("na"), F.col("doc_b"))
            .otherwise(F.least("doc_a", "doc_b"))
            .alias("contained_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-span mass per document (RefinedWeb-style repetition stat)
# ---------------------------------------------------------------------------
@query(
    "dup_span_fraction",
    oracle=rf"""
    WITH pos AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
            FROM documents)
      WHERE len(toks) >= 3
    ),
    docs_with AS (
      SELECT shingle, count(DISTINCT doc_id) AS n_docs
      FROM pos GROUP BY shingle
    )
    SELECT p.doc_id,
           count(*)                                             AS n_shingles,
           CAST(sum(CASE WHEN w.n_docs >= 2 THEN 1 ELSE 0 END)
                AS BIGINT)                                      AS n_dup,
           round(CAST(sum(CASE WHEN w.n_docs >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4)                 AS dup_fraction
    FROM pos p JOIN docs_with w USING (shingle)
    GROUP BY p.doc_id
    """,
)
def dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span mass: the fraction of a document's
    word-3-gram occurrences whose shingle text also appears in at
    least one OTHER document.  This is the corpus-repetition statistic
    web-scale cleaning pipelines threshold on (a doc that is mostly
    boilerplate shared with the rest of the crawl scores near 1.0)
    -- complementary to ``text_repetition`` (intra-doc) and the
    pairwise dedup family (which names the partner; this scores the
    doc without materializing pairs).

    Scale: explode to positional shingles, one vocabulary-bounded
    partial-aggregating groupBy for the doc-frequency table, one
    shuffle join back on the shingle key, one per-doc aggregate.  No
    pair enumeration anywhere, so cost is O(corpus tokens), not
    O(pairs) -- the reason this stat is computable at 100 TB when
    exact all-pairs Jaccard is not."""
    pos = _shingles(_docs(spark, sf_dir), distinct=False)
    docs_with = pos.groupBy("shingle").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        pos.join(docs_with, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(dup).cast("bigint").alias("n_dup"),
            F.round(
                F.sum(dup).cast("double") / F.count("*"), 4
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: k-means cluster-scoped embedding pairs)
# ---------------------------------------------------------------------------
_SEM_K = 8  # clusters (reuses the kmeans seed discipline)
_SEM_THRESHOLD = 0.40  # within-cluster cosine at/above which b is a dup


@query(
    "dedup_semantic",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {_SEM_K}),
    a AS (
      SELECT vec_id, e, cid AS cluster FROM (
        SELECT v.vec_id, v.e, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_dot_product(v.e, c.ce)
                   / sqrt(list_dot_product(v.e, v.e)
                          * list_dot_product(c.ce, c.ce)), 4) DESC,
                   c.cid) AS rnk
        FROM v CROSS JOIN cent0 c
      ) WHERE rnk = 1
    )
    SELECT a1.cluster, a1.vec_id AS vec_a, a2.vec_id AS vec_b,
           round(list_dot_product(a1.e, a2.e)
             / sqrt(list_dot_product(a1.e, a1.e)
                    * list_dot_product(a2.e, a2.e)), 4) AS cos_sim,
           a2.vec_id AS drop_vec
    FROM a a1 JOIN a a2
      ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
    WHERE round(list_dot_product(a1.e, a2.e)
            / sqrt(list_dot_product(a1.e, a1.e)
                   * list_dot_product(a2.e, a2.e)), 4)
          >= {_SEM_THRESHOLD}
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space with k-means (deterministic seed assignment -- the same
    broadcast-argmax pass as kmeans_2iter's first iteration), then
    enumerate near-duplicate pairs ONLY within each cluster (cosine
    >= {thr}) and mark the higher-id vector of each pair as the drop
    -- the keep-one-representative policy.  Unlike the LSH family
    (dedup_embedding_cosine), which buckets on sign sketches of the
    raw vectors, semantic dedup groups by LEARNED structure, catching
    paraphrase-level duplicates whose surface vectors land in
    different LSH buckets.

    Scale: assignment is a zero-shuffle broadcast argmax over the
    corpus; the pair join shuffles once on the cluster key, and the
    quadratic term is confined to single clusters -- the SemDeDup
    design point is that K grows with the corpus so per-cluster
    population (and thus pair count) stays bounded, turning an
    intractable all-pairs problem into per-cluster work that
    parallelizes across the cluster key.  No global cross join
    anywhere."""
    from .similarity import _km_assign, _km_seed, _vectors, cosine

    # The corpus arrives as one small file locally; spread it so the
    # per-vector argmax and the per-pair folds use every core (at
    # production scale the input partitioning already provides this).
    v = _vectors(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)
    # Each vector carries its self-dot ``s`` from `_vectors`, so a
    # scored pair costs the cosine kernel's one fold (similarity.py).
    # The assignment feeds BOTH pair-join branches: materialize it once
    # (persisting the cluster assignment is what a production run
    # does anyway) instead of re-deriving the argmax per branch.
    assigned = _km_assign(v, _km_seed(v)).localCheckpoint()
    # K is small (the clusters ARE the join key), so an unsalted pair
    # join runs on K tasks no matter how many cores exist.  Salt the
    # left side on vec_id and replicate the right side across salts:
    # per-cluster pair work splits K x SALT ways at the cost of
    # re-reading the (tiny per cluster) right side SALT times.
    salt_n = 8
    a1 = assigned.select(
        "cluster",
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("e_a"),
        F.col("s").alias("s_a"),
        (F.col("vec_id") % salt_n).alias("salt"),
    )
    a2 = assigned.select(
        F.col("cluster").alias("cl_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("e_b"),
        F.col("s").alias("s_b"),
        F.explode(
            F.sequence(F.lit(0), F.lit(salt_n - 1))
        ).alias("salt_b"),
    )
    cos = F.round(
        cosine(F.col("e_a"), F.col("e_b"), F.col("s_a"), F.col("s_b")), 4
    )
    return (
        a1.join(
            a2,
            (F.col("cluster") == F.col("cl_b"))
            & (F.col("salt") == F.col("salt_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= _SEM_THRESHOLD)
        .select(
            "cluster",
            "vec_a",
            "vec_b",
            "cos_sim",
            F.col("vec_b").alias("drop_vec"),
        )
    )


dedup_semantic.__doc__ = dedup_semantic.__doc__.format(thr=_SEM_THRESHOLD)


# ---------------------------------------------------------------------------
# LSH quality eval: candidate recall/precision vs exact-Jaccard truth
# ---------------------------------------------------------------------------
_RECALL_J = 0.5  # ground-truth near-dup threshold (LSH s50 ~ 0.4 here)


@query(
    "dedup_lsh_recall",
    oracle=rf"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM common JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_RECALL_J!r}
    ),
    cand AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})),
    hit AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
    SELECT (SELECT count(*) FROM truth) AS n_true_pairs,
           (SELECT count(*) FROM cand) AS n_candidate_pairs,
           (SELECT count(*) FROM hit) AS n_hits,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / (SELECT count(*) FROM truth), 4) AS recall,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / (SELECT count(*) FROM cand), 4) AS precision
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH quality, not guessed: recall and precision of the
    MinHash-LSH candidate pairs against exact-Jaccard ground truth at
    J >= {j} (the band parameters put the S-curve's 50% point near
    0.4, so >= {j} pairs should be caught with high probability).
    This is the eval every dedup deployment runs before trusting the
    sketch parameters -- and the query that catches a silently broken
    band hash (recall collapses) or over-wide bands (precision
    collapses).

    Scale: ground truth generation is the shared-shingle equi-join
    (only pairs sharing a shingle can clear any positive threshold,
    so no cross join); at production scale the eval runs on a
    held-out sample -- here the test corpus IS the sample.  Truth and
    candidates are both bucketed-join shaped; the final scorecard is
    three tiny counts."""
    # Three consumers (sizes + both sides of the shared-shingle self
    # join) would each re-derive the regex-split/explode fan-out from
    # the single-file scan; materialize the distinct shingle set once
    # (from the shingle-store fragment in a batch window), with
    # shingles hashed to 64-bit keys so the truth self-join shuffles
    # 8-byte longs, not strings (collision odds across the
    # distinct-shingle domain are ~|domain|^2/2^64; the oracle's
    # string-keyed truth re-checks equality on every run).
    sh = (
        _corpus_pair_shingles(spark, sf_dir, spread=True)
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        sh.join(b, "shingle")
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c"))
            >= F.lit(_RECALL_J)
        )
        .select("doc_a", "doc_b")
    )
    cand = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    hit = truth.intersect(cand)
    n_true = truth.agg(F.count("*").alias("n_true_pairs"))
    n_cand = cand.agg(F.count("*").alias("n_candidate_pairs"))
    n_hit = hit.agg(F.count("*").alias("n_hits"))
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true_pairs",
            "n_candidate_pairs",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_true_pairs"), 4
            ).alias("recall"),
            F.round(
                F.col("n_hits").cast("double") / F.col("n_candidate_pairs"),
                4,
            ).alias("precision"),
        )
    )


dedup_lsh_recall.__doc__ = dedup_lsh_recall.__doc__.format(j=_RECALL_J)


# ---------------------------------------------------------------------------
# EXACT similarity join via prefix filtering (PPJoin-family)
# ---------------------------------------------------------------------------
_PREFIX_J = 0.5  # Jaccard threshold


@query(
    "dedup_prefix_filter_join",
    oracle=rf"""
    WITH sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
    FROM common JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_PREFIX_J!r}
    """,
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity join (every pair with Jaccard >= {t}, no
    sketch, no false negatives) made tractable by PREFIX FILTERING
    (Chaudhuri et al. / PPJoin): order each document's shingles by
    ascending global document frequency (rarest first, ties on the
    shingle) and keep only the first m - ceil(t*m) + 1 as its
    PREFIX; any pair with J >= t provably shares a prefix shingle
    (if the first common shingle in that order sat outside A's
    prefix, A would carry ceil(t*m)-1 >= |A-and-B| earlier
    non-common shingles -- contradiction), so the candidate join runs
    on prefixes only and rare shingles, never on hot full postings.
    The ORACLE is the brute-force all-shared-shingle join: equal
    output IS the losslessness proof, re-checked on every run.

    Scale: document-frequency ranking is one shuffle on the shingle;
    the per-doc prefix cut is a per-entity window; the candidate join
    touches |prefix| rows per doc with the rarest (least skewed)
    keys by construction; verification counts common shingles only
    for candidate pairs.  This is the exact-join complement of the
    MinHash-LSH family (which trades recall for candidate count --
    dedup_lsh_recall measures exactly that trade)."""
    from pyspark.sql.window import Window

    # the single-file local corpus shingles on one task otherwise;
    # production multi-file inputs provide this parallelism natively
    # shingle strings hash to 64-bit keys up front: every downstream
    # shuffle (df count, rank, candidate join, verify arrays) moves
    # 8-byte longs instead of ~25-byte strings.  The prefix theorem
    # needs only a CONSISTENT global shingle order, so (df, hash)
    # works as well as (df, string); the common-shingle counts are
    # unchanged barring a 64-bit collision inside one document pair
    # (~|shingles|^2 / 2^64 -- and the oracle's string-keyed
    # brute-force re-checks equality on every run)
    sh = (
        _corpus_pair_shingles(spark, sf_dir, spread=True)
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    wd = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(wd))
        .join(sizes, "doc_id")
        # prefix length m - ceil(t*m) + 1 in exact integer form
        .filter(
            F.col("rn")
            <= F.col("n") - F.floor((F.col("n") + 1) / 2) + 1
        )
        .select("doc_id", "shingle", "n")
    )
    rb = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle").alias("sh_b"),
        F.col("n").alias("nb"),
    )
    # PPJoin length filter rides along: J >= t already implies
    # t*max(na,nb) <= min(na,nb), so length-incompatible pairs drop
    # before the distinct
    cand = (
        ranked.join(rb, ranked.shingle == rb.sh_b)
        .filter(
            (F.col("doc_id") < F.col("doc_b"))
            & (F.col("nb") * _PREFIX_J <= F.col("n"))
            & (F.col("n") * _PREFIX_J <= F.col("nb"))
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        # explicit-N repartition on the PAIR key: distinct's required
        # distribution is otherwise satisfied by the upstream doc_id
        # exchange, which AQE coalesces to a handful of tasks on the
        # skinny 16-byte pair rows -- but everything downstream of it
        # (the distinct itself plus the array-intersect verify, whose
        # per-row cost is ~100 element probes) then runs at that
        # parallelism.  Spreading the pairs here engaged all cores
        # and halved the query's warm wall time at sf0.1.
        .repartition(
            spark.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        .distinct()
    )
    # verify candidates only: common-shingle counts via per-doc shingle
    # ARRAYS + array_intersect, so each candidate pair is ONE row with
    # two arrays (JVM-side set intersection) -- the join-then-regroup
    # form exploded every pair by all of doc_a's shingles first (a
    # |cand| x |shingles/doc| intermediate plus an extra shuffle to
    # count it back down; this rewrite took the query 5.3 -> ~2 s at
    # sf0.1).  Shingles are distinct per doc, so intersect size IS the
    # common count.
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shs"), F.count("*").alias("n")
    )
    aa = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shs").alias("sh_a"),
        F.col("n").alias("na"),
    )
    ab = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shs").alias("sh_b2"),
        F.col("n").alias("nb"),
    )
    scored = (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b2")).alias("c"),
            "na",
            "nb",
        )
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        scored.filter(jac >= F.lit(_PREFIX_J))
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


dedup_prefix_filter_join.__doc__ = dedup_prefix_filter_join.__doc__.format(
    t=_PREFIX_J
)


# ---------------------------------------------------------------------------
# Incremental dedup: new-batch candidates against a persisted store
# ---------------------------------------------------------------------------
# Stand-in store split: docs with doc_id % 5 == 0 are "today's batch",
# the rest are the already-indexed corpus.  Deterministic, so both
# engines and every scale agree on the split.
_INC_MOD = 5


@query(
    "dedup_incremental",
    oracle=rf"""
    WITH sigs AS ({_SIGS_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared_bands,
           CASE WHEN a.doc_id % {_INC_MOD} = 0 AND b.doc_id % {_INC_MOD} = 0
                THEN 'new-new' ELSE 'new-old' END AS pair_type
    FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                           AND a.doc_id < b.doc_id
    WHERE a.doc_id % {_INC_MOD} = 0 OR b.doc_id % {_INC_MOD} = 0
    GROUP BY 1, 2, 4
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: candidate pairs for a NEW batch of documents
    (doc_id % {mod} == 0 stands in for today's crawl) against the
    already-indexed corpus, via operators layered exactly as production
    runs them -- band_signatures() persisted for the store (the corpus
    text is never re-read or re-hashed on later days),
    incremental_lsh_candidates() probing only the new batch.

    Scale shape: the candidate join keys on (band, sig); with the store
    bucketed on those keys each day's probe is shuffle-free on the
    store side, and its cost is proportional to the BATCH, not the
    corpus.  The oracle recomputes all signatures in SQL and keeps the
    pairs with a new side -- proving the incremental path emits exactly
    the pairs the from-scratch build would.  Old-old pairs are absent
    by construction (earlier runs already emitted them).

    Streaming twin: streaming/jobs.py::lsh_dedup_stream runs this same
    incremental core per micro-batch.
    """
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    is_new = F.col("doc_id") % _INC_MOD == 0
    # Under the batch-window fragment cache the store side reads the
    # materialized corpus-wide band table (membership filter; per-doc
    # pure) instead of re-hashing store text -- the literal production
    # layout this query documents.  Standalone (cache off) keeps the
    # member-scoped build.  The NEW batch's signatures are always
    # computed from the batch text (that is the honest daily cost).
    from .fragments import fragment_cache_on

    if fragment_cache_on():
        store_sigs = corpus_band_signatures(spark, sf_dir).filter(~is_new)
    else:
        store_sigs = band_signatures(docs.filter(~is_new))
    pairs, _new_sigs = incremental_lsh_candidates(
        store_sigs, docs.filter(is_new)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        F.when(
            (F.col("doc_a") % _INC_MOD == 0) & (F.col("doc_b") % _INC_MOD == 0),
            F.lit("new-new"),
        )
        .otherwise(F.lit("new-old"))
        .alias("pair_type"),
    )


dedup_incremental.__doc__ = dedup_incremental.__doc__.format(mod=_INC_MOD)


# ---------------------------------------------------------------------------
# Exact-substring span rewrite (first-occurrence-wins duplicate removal)
# ---------------------------------------------------------------------------
_SPAN = 16  # tokens per non-overlapping span
_OCC_STRIDE = 1_000_000  # occ_key = doc_id * stride + span_idx


def span_frame(docs: DataFrame) -> DataFrame:
    """Non-overlapping {span}-token spans of each document with their
    global occurrence key: (doc_id, span, span_idx, span_len,
    occ_key).  Shared by the batch rewrite query and the streaming
    incremental twin (``streaming/jobs.py::span_rewrite_stream``)."""
    return (
        docs.select(
            "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("toks")
        )
        .select(
            "doc_id",
            F.size("toks").alias("n_toks"),
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.ceil(F.size("toks") / F.lit(_SPAN)).cast("int"),
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("toks"), (i - 1) * _SPAN + 1, _SPAN)
                    ),
                )
            ).alias("idx0", "span"),
        )
        .select(
            "doc_id",
            "span",
            (F.col("idx0") + 1).alias("span_idx"),
            F.least(
                F.lit(_SPAN), F.col("n_toks") - F.col("idx0") * _SPAN
            ).alias("span_len"),
            (F.col("doc_id") * _OCC_STRIDE + F.col("idx0") + 1).alias(
                "occ_key"
            ),
        )
    )


span_frame.__doc__ = span_frame.__doc__.format(span=_SPAN)


def span_firsts(spans: DataFrame) -> DataFrame:
    """First-occurrence table (span -> min occ_key) over full-length
    spans -- the state a persisted span store accumulates."""
    return (
        spans.filter(F.col("span_len") == _SPAN)
        .groupBy("span")
        .agg(F.min("occ_key").alias("first_key"))
    )


def span_ledger(spans: DataFrame, firsts: DataFrame) -> DataFrame:
    """Per-document rewrite ledger given a first-occurrence table: a
    span is kept iff it is short (never deduped) or it IS the first
    occurrence."""
    kept = (F.col("span_len") < _SPAN) | (
        F.col("occ_key") == F.col("first_key")
    )
    return (
        spans.join(firsts, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("span_len")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(F.when(~kept, F.col("span_len")).otherwise(0))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
    )


@query(
    "dedup_span_rewrite",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
    ),
    spans AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(t[(i-1)*{_SPAN} + 1 : least(len(t), i*{_SPAN})],
                             ' ') AS span,
             least({_SPAN}, len(t) - (i-1)*{_SPAN}) AS span_len,
             doc_id * {_OCC_STRIDE} + i AS occ_key
      FROM toks,
           unnest(range(1, CAST(ceil(len(t) / {_SPAN}.0) AS BIGINT) + 1)) AS u(i)
    ),
    firsts AS (
      SELECT span, min(occ_key) AS first_key
      FROM spans WHERE span_len = {_SPAN} GROUP BY span
    ),
    marked AS (
      SELECT s.doc_id, s.span_len,
             (s.span_len < {_SPAN} OR s.occ_key = f.first_key) AS kept
      FROM spans s LEFT JOIN firsts f USING (span)
    )
    SELECT doc_id,
           count(*)                                                AS n_spans,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)   AS n_kept,
           CAST(sum(CASE WHEN kept THEN span_len ELSE 0 END)
                AS BIGINT)                                         AS tokens_kept,
           CAST(sum(CASE WHEN NOT kept THEN span_len ELSE 0 END)
                AS BIGINT)                                         AS tokens_dropped
    FROM marked GROUP BY doc_id
    """,
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate REMOVAL, not just measurement: chunk
    every document into non-overlapping {span}-token spans, and drop
    every span whose exact text already occurred earlier in the corpus
    (first occurrence wins, ordered by (doc_id, span_idx)).  This is
    the curation *action* behind the "deduplicating training data"
    recipe -- cross-document boilerplate is removed once globally --
    where ``dup_span_fraction`` only scores it.  Trailing spans
    shorter than {span} tokens never participate (a 1-token fragment
    colliding across documents is noise, not boilerplate).

    Emits the per-document rewrite ledger (spans kept/dropped, token
    counts) -- the audit table a pipeline materializes alongside the
    rewritten text.

    Scale: explode to spans (O(corpus tokens) rows, narrow), ONE
    partial-aggregating groupBy on span text for the first-occurrence
    table, one shuffle join back on the same key, one per-doc
    aggregate.  No pair enumeration, no windows over data-scale input;
    the global "earliest occurrence" needs no sort because min() over
    the integer occurrence key (doc_id * {stride} + span_idx) is the
    order statistic.  Skewed span texts (empty/boilerplate) bucket to
    one key and are handled by AQE skew split.  Semantics follow the
    exact-substring dedup of Lee et al. (reference has no dedup beyond
    the removed-rows metric, src/lib/users.js:68), restricted to
    span-aligned matches so it stays a hash join, not a suffix array.
    """
    spans = span_frame(_docs(spark, sf_dir))
    return span_ledger(spans, span_firsts(spans))


dedup_span_rewrite.__doc__ = dedup_span_rewrite.__doc__.format(
    span=_SPAN, stride=_OCC_STRIDE
)


# ---------------------------------------------------------------------------
# Span duplication spectrum (how duplicated is the corpus, by degree)
# ---------------------------------------------------------------------------
@query(
    "dedup_span_spectrum",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
    ),
    spans AS (
      SELECT array_to_string(t[(i-1)*{_SPAN} + 1 : least(len(t), i*{_SPAN})],
                             ' ') AS span,
             least({_SPAN}, len(t) - (i-1)*{_SPAN}) AS span_len
      FROM toks,
           unnest(range(1, CAST(ceil(len(t) / {_SPAN}.0) AS BIGINT) + 1)) AS u(i)
    ),
    g AS (
      SELECT span, count(*) AS n_copies
      FROM spans WHERE span_len = {_SPAN} GROUP BY 1
    )
    SELECT n_copies,
           count(*) AS n_groups,
           CAST(n_copies * count(*) AS BIGINT) AS n_occurrences,
           CAST((n_copies - 1) * count(*) * {_SPAN} AS BIGINT)
             AS removable_tokens
    FROM g GROUP BY 1
    """,
)
def dedup_span_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication SPECTRUM of the corpus at span granularity: for
    each multiplicity k, how many distinct {span}-token spans occur
    exactly k times, how many occurrences that is, and how many
    tokens an exact-substring dedup pass would remove from that
    stratum ((k-1) x group x span).  This is the frequency-spectrum
    table dedup papers plot to size the win BEFORE running the
    rewrite -- the planning artifact to ``dedup_span_rewrite``'s
    action (sum of removable_tokens == the rewrite's total
    tokens_dropped, pinned in tests).

    Scale: two chained hash aggregates (span text -> count, count ->
    groups), both map-side combinable; the second operates on
    distinct-span cardinality and its output is O(max multiplicity)
    rows.  No joins, no windows."""
    spans = span_frame(_docs(spark, sf_dir))
    g = (
        spans.filter(F.col("span_len") == _SPAN)
        .groupBy("span")
        .agg(F.count("*").alias("n_copies"))
    )
    return g.groupBy("n_copies").agg(
        F.count("*").alias("n_groups"),
        (F.col("n_copies") * F.count("*")).cast("bigint").alias(
            "n_occurrences"
        ),
        ((F.col("n_copies") - 1) * F.count("*") * _SPAN)
        .cast("bigint")
        .alias("removable_tokens"),
    )


dedup_span_spectrum.__doc__ = dedup_span_spectrum.__doc__.format(span=_SPAN)


# ---------------------------------------------------------------------------
# Span rewrite APPLY (materialize the deduplicated text)
# ---------------------------------------------------------------------------
@query(
    "dedup_rewrite_apply",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
    ),
    spans AS (
      SELECT doc_id, i AS span_idx,
             array_to_string(t[(i-1)*{_SPAN} + 1 : least(len(t), i*{_SPAN})],
                             ' ') AS span,
             least({_SPAN}, len(t) - (i-1)*{_SPAN}) AS span_len,
             doc_id * {_OCC_STRIDE} + i AS occ_key
      FROM toks,
           unnest(range(1, CAST(ceil(len(t) / {_SPAN}.0) AS BIGINT) + 1)) AS u(i)
    ),
    firsts AS (
      SELECT span, min(occ_key) AS first_key
      FROM spans WHERE span_len = {_SPAN} GROUP BY span
    ),
    marked AS (
      SELECT s.doc_id, s.span_idx, s.span, s.span_len,
             (s.span_len < {_SPAN} OR s.occ_key = f.first_key) AS kept
      FROM spans s LEFT JOIN firsts f USING (span)
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN kept THEN span_len ELSE 0 END) AS BIGINT)
             AS n_tokens_new,
           ('0x' || substring(md5(coalesce(
               string_agg(CASE WHEN kept THEN span END, ' '
                          ORDER BY span_idx),
               '')), 1, 15))::BIGINT AS rewritten_fp
    FROM marked GROUP BY doc_id
    """,
)
def dedup_rewrite_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the span rewrite: materialize each document's
    deduplicated text (its kept spans, original order) and emit the
    new token count plus a 60-bit md5 fingerprint of the rewritten
    string -- the content proof that both engines produced the same
    bytes, not just the same counts (``dedup_span_rewrite`` is the
    ledger; this is the output artifact).  A fully-duplicated doc
    rewrites to the empty string, fingerprinted as such.

    Scale: same two aggregates as the ledger plus ONE per-doc
    collect_list of kept spans -- bounded by document length, the
    same per-group payload a pipeline already holds to write the doc
    out; order is restored by array_sort on (span_idx, span) structs,
    never a window.  The fingerprint column means a 100-TB rewrite
    can be verified against an independent implementation by
    comparing two ~doc-count tables of BIGINTs."""
    spans = span_frame(_docs(spark, sf_dir))
    firsts = span_firsts(spans)
    kept = (F.col("span_len") < _SPAN) | (
        F.col("occ_key") == F.col("first_key")
    )
    marked = spans.join(firsts, "span", "left").select(
        "doc_id",
        "span_idx",
        "span_len",
        "span",
        kept.alias("kept"),
    )
    rewritten = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("kept"),
                        F.struct(F.col("span_idx"), F.col("span")),
                    )
                )
            ),
            lambda s: s["span"],
        ),
    )
    return marked.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kept"), F.col("span_len")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_new"),
        F.conv(F.substring(F.md5(rewritten), 1, 15), 16, 10)
        .cast("bigint")
        .alias("rewritten_fp"),
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (provenance-level dedup insight)
# ---------------------------------------------------------------------------
@query(
    "dedup_source_matrix",
    oracle=rf"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL}),
    src AS (SELECT doc_id, source FROM documents),
    m AS (
      SELECT least(sa.source, sb.source) AS source_a,
             greatest(sa.source, sb.source) AS source_b
      FROM pairs p
      JOIN src sa ON sa.doc_id = p.doc_a
      JOIN src sb ON sb.doc_id = p.doc_b
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM m GROUP BY source_a, source_b
    HAVING count(*) >= 2
    ORDER BY n_dup_pairs DESC, source_a, source_b
    """,
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO duplicates WHOM: aggregate the near-dup candidate pairs to
    the SOURCE-pair level -- the provenance matrix that turns a
    document-level dedup run into a curation decision ("src A is a
    mirror of src B: drop the source, not the documents one by one").
    Diagonal entries (same source twice) measure within-source
    duplication; the matrix is symmetrized by least/greatest so each
    unordered source pair counts once.

    Scale shape: the expensive part is the existing banded LSH
    candidate generation (minhash_pairs, bucketed equi-join -- never
    all-pairs); the provenance rollup joins the pair list (tiny
    relative to the corpus) against the doc->source projection twice
    and reduces to at most |sources|^2 rows.  The HAVING floor keeps
    the readout to actionable pairs."""
    pairs = minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    m = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        m.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_dup_pairs"))
        .filter(F.col("n_dup_pairs") >= 2)
        .orderBy(F.desc("n_dup_pairs"), "source_a", "source_b")
    )
