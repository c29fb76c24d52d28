"""Training-data-pipeline extension operators (BASELINE.json north star):
deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
search over embeddings (brute-force + IVF-style partition-restricted), and
text analysis (quality, language-ID, token stats, fingerprints).

Scale design notes
------------------
- All dedup operators use the inverted-index shape (explode shingles →
  equi-join on shingle/band) — never an O(n²) cross join. At 100 TB the
  shingle join shuffles only (key, doc_id) pairs. Skew is handled at TWO
  levels: AQE splits hot shuffle partitions (rebalances work), while the
  df-cap (stop-shingles) and the LSH band-bucket cap
  (``_LSH_BUCKET_CAP``) bound the candidate OUTPUT cardinality itself —
  the quadratic blowup a mega-dup cluster would otherwise emit, which no
  shuffle-level mechanism can shrink.
- All hashes are md5-derived (``functions.text.md5_hash64``) so the DuckDB
  oracle computes identical signatures — no engine-private hash functions.
- Vector ops are JVM higher-order functions (zip_with/aggregate): no Python,
  no shuffle for the similarity compute itself; top-k per query compiles to
  a window over a partitioned-by-query shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    normalize_text, NORMALIZE_TEXT_SQL, tokens, TOKENS_SQL,
    shingles_from_tokens, shingles_sql, md5_hash64, md5_hash64_sql,
    fingerprint, FINGERPRINT_SQL, LANG_MARKERS,
)
from ..functions.determinism import (DEC_AVG_SQL, FOLD_SUM_SQL, dec_avg,
                                     fold_sum, spark_pct_sql)
from ..functions.vectors import cosine_similarity, cosine_sql
from ..functions import metrics as M
from ..operators.clustering import (
    connected_components_star, min_label_sql, propagate_min_labels,
    DEFAULT_CC_ITERS)
from ..sources import load_table, widen
from . import query

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query("text_token_stats", f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len({TOKENS_SQL.format(c='text')})) AS BIGINT) AS total_tokens,
       ROUND(AVG(len({TOKENS_SQL.format(c='text')})), 6) AS avg_tokens,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
""")
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per source (whitespace tokenization)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    # materialize the token count once per row — referencing the tokenize
    # expression from three aggregates would re-run the regexp+split 3×.
    d = d.select("source", "lang", "n_chars",
                 F.size(tokens(F.col("text"))).alias("nt"))
    nt = F.col("nt")
    return (d.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(nt).cast("bigint").alias("total_tokens"),
                  F.round(F.avg(nt), 6).alias("avg_tokens"),
                  F.round(F.avg("n_chars"), 6).alias("avg_chars"),
                  F.countDistinct("lang").alias("n_langs")))


@query("text_quality", f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL.format(c='text')} AS toks,
         length({NORMALIZE_TEXT_SQL.format(c='text')}) AS n_norm_chars
  FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
       CAST(n_norm_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
         AS avg_token_len,
       CAST(len(list_filter(toks, x -> x IN {_SW_SQL})) AS DOUBLE)
             / len(toks) AS stopword_ratio,
       LEAST(len(toks) / 50.0, 1.0)
             * (0.5 + 0.5 * LEAST(CAST(len(list_filter(toks, x -> x IN {_SW_SQL})) AS DOUBLE)
                                  / len(toks) / 0.1, 1.0)) AS quality_score
FROM t
""")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length + stopword-ratio components — the
    standard cheap pre-filter for training-data curation. Pure Catalyst
    expressions; scales linearly. All three ratios are emitted as RAW
    quotient chains over integer counts (round-6): identical-operand
    IEEE arithmetic is bit-exact cross-engine, while ROUND of a derived
    quotient is the r3 half-boundary divergence class
    (contract/__init__.py rule)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    d = d.select("doc_id", toks.alias("toks"),
                 F.length(normalize_text(F.col("text"))).alias("n_norm_chars"))
    n = F.size("toks")
    sw = F.size(F.filter("toks", lambda x: x.isin(*_STOPWORDS)))
    sw_ratio = sw.cast("double") / n
    quality = (F.least(n / F.lit(50.0), F.lit(1.0))
               * (F.lit(0.5) + F.lit(0.5) * F.least(sw_ratio / 0.1, F.lit(1.0))))
    return d.select("doc_id", n.alias("n_tokens"),
                    ((F.col("n_norm_chars") - (n - 1)).cast("double") / n)
                     .alias("avg_token_len"),
                    sw_ratio.alias("stopword_ratio"),
                    quality.alias("quality_score"))


def _lang_pred_sql() -> str:
    score = {lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)})))"
             for lang, ws in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    case = "CASE "
    for lang in langs[:-1]:
        conds = " AND ".join(f"{score[lang]} >= {score[o]}" for o in langs if o != lang)
        case += f"WHEN {conds} THEN '{lang}' "
    return case + f"ELSE '{langs[-1]}' END"


@query("text_lang_id", f"""
WITH t AS (SELECT doc_id, lang, {TOKENS_SQL.format(c='text')} AS toks FROM documents)
SELECT doc_id, lang, {_lang_pred_sql()} AS pred_lang FROM t
""")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (n-gram-free variant: a handful of
    array_contains per row). Deterministic priority order breaks score ties
    identically on both engines. (The driver corpus is synthetic word-salad,
    so the interesting property is determinism, not accuracy.)"""
    d = widen(load_table(spark, sf_dir, "documents"))
    d = d.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    def marker_count(ws):
        # nb: the lambda must be unary — a second parameter would be bound
        # to the HOF's index argument by PySpark.
        return F.size(F.filter("toks", lambda x: x.isin(*ws)))

    scores = {lang: marker_count(ws) for lang, ws in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    pred = None
    for lang in langs[:-1]:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(langs[-1])
    return d.select("doc_id", "lang", pred.alias("pred_lang"))


#: BPE-ish subword tokenization: letter runs, digit runs, and punctuation
#: runs each count as one token — the pre-merge alphabet of byte-pair
#: tokenizers. Both regex engines (Java / RE2) agree on this pattern.
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query("text_tokens_bpe", f"""
WITH t AS (
  SELECT doc_id,
         len({TOKENS_SQL.format(c='text')}) AS ws_tokens,
         len(regexp_extract_all({NORMALIZE_TEXT_SQL.format(c='text')},
                                '{_BPE_RE}')) AS bpe_tokens
  FROM documents)
SELECT doc_id, ws_tokens, bpe_tokens,
       CAST(bpe_tokens AS DOUBLE) / ws_tokens AS fertility
FROM t WHERE ws_tokens > 0
""")
def text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: subword-alphabet token count per doc next
    to the whitespace count, plus fertility (subwords per word) — the
    standard cost estimate for LLM training data. Pure regexp_extract_all
    in both engines; linear scan, no shuffle. Fertility is the RAW
    integer quotient (round-6: bit-exact; ROUND of it is the
    half-boundary divergence class)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    norm = normalize_text(F.col("text"))
    d = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(_BPE_RE), F.lit(0)))
         .alias("bpe_tokens"))
    return (d.filter(F.col("ws_tokens") > 0)
             .select("doc_id", "ws_tokens", "bpe_tokens",
                     (F.col("bpe_tokens").cast("double")
                      / F.col("ws_tokens")).alias("fertility")))


@query("text_fingerprint", f"""
SELECT doc_id, {FINGERPRINT_SQL.format(c='text')} AS fp,
       {md5_hash64_sql(NORMALIZE_TEXT_SQL.format(c='text'), seed=0)} AS fp64
FROM documents
""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text + a 60-bit integer
    digest (the shared hash used by MinHash/SimHash)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"),
                    md5_hash64(normalize_text(F.col("text")), seed=0).alias("fp64"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query("dedup_exact", f"""
SELECT {FINGERPRINT_SQL.format(c='text')} AS fp,
       MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint, keep the
    minimum doc_id as canonical. One shuffle on a 128-bit key; at 100 TB
    the map-side partial aggregation collapses most groups before shuffle."""
    d = widen(load_table(spark, sf_dir, "documents"))
    return (d.groupBy(fingerprint(F.col("text")).alias("fp"))
             .agg(F.min("doc_id").alias("canonical_id"),
                  F.count(F.lit(1)).alias("n_copies")))


_SHINGLES_SQL = shingles_sql("text", k=3)

#: Per-document distinct shingle sets, pre-hashed to 60-bit ints (seed 0):
#: the shared base relation for Jaccard and MinHash. Hashing at tokenize
#: time shrinks every downstream join/intersect key from a ~30-byte string
#: to 8 bytes; both engines hash identically so set cardinalities agree.
_DOCS_CTE = f"""
WITH docs AS (
  SELECT doc_id,
         list_distinct(list_transform({_SHINGLES_SQL},
                                      s -> {md5_hash64_sql('s', seed=0)})) AS shs
  FROM documents)
"""


def _doc_shingle_sets(spark, sf_dir) -> DataFrame:
    """One row per doc: (doc_id, shs = distinct hashed 3-word shingles).

    Tokens are materialized before shingling (shingles_from_tokens) so the
    regexp+split runs once per row, not once per shingle."""
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    hashed = F.transform(shingles_from_tokens("toks", 3),
                         lambda s: md5_hash64(s, seed=0))
    return toks.select("doc_id", F.array_distinct(hashed).alias("shs"))


#: Stop-shingle document-frequency cap (VERDICT.md round-1 "What's wrong"
#: #2): a shingle appearing in k docs contributes k^2 rows to the posting-
#: list self-join, so web-scale stop-shingles ("terms of service", chrome
#: text) dominate cost without the cap. Shingles above the cap are removed
#: from the *universe* — the metric stays a true Jaccard, over rare-shingle
#: sets. Recall trade-off: two docs similar ONLY through stop-shingles no
#: longer pair — at df > 64 such shingles carry ~no signal (they connect
#: everything), and MinHash-LSH remains the primary scale route. At sf0.01
#: max df is 7, so the contract result is unchanged by the prune.
_DF_CAP = 64

_JAC_CTE = _DOCS_CTE + f""",
sh0 AS (SELECT doc_id, unnest(shs) AS sh FROM docs),
stop AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) > {_DF_CAP}),
kept AS (SELECT doc_id, sh FROM sh0 ANTI JOIN stop USING (sh)),
sh AS (SELECT doc_id, sh,
              COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
       FROM kept),
jac AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common,
         CAST(COUNT(*) AS DOUBLE)
           / (a.n_sh + b.n_sh - COUNT(*)) AS jaccard
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
"""


@query("dedup_ngram_jaccard", _JAC_CTE + """
SELECT doc_a, doc_b, n_common, ROUND(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.2
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with 3-word-shingle Jaccard >= 0.2 over the
    df-capped shingle universe (see ``_DF_CAP``).

    Inverted-index shape: explode distinct hashed shingles, drop
    stop-shingles via a broadcast anti-join against the (tiny) df > cap
    list, self-equi-join on the 8-byte shingle hash (never a cross join),
    count intersections. |A∪B| uses post-prune set sizes so the ratio is a
    true Jaccard of the filtered sets. At 100 TB the join shuffles only
    (hash, doc_id, n_sh) triples, the df-cap bounds every posting list at
    cap^2 candidate rows, and AQE splits residual sub-cap skew."""
    # the exploded+pruned relation is read by both self-join sides and
    # feeds the per-doc size window (8-byte hashes — bounded bytes/doc at
    # any corpus size); the shingle sets come from the shared memo so
    # every dedup query in a sweep reuses ONE persisted copy.
    sets = _shared_shingle_sets(spark, sf_dir)
    sh0 = sets.select("doc_id", F.explode("shs").alias("sh"))
    stop = (sh0.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > _DF_CAP).select("sh"))
    kept = sh0.join(F.broadcast(stop), "sh", "left_anti")
    sh = (kept.withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
          .persist())
    sh.count()  # eager: both self-join sides materialize concurrently
    # under AQE — a lazy persist would run the explode+anti+window
    # lineage twice in parallel (see _mh_signatures, round 13)
    a, b = sh.alias("a"), sh.alias("b")
    jac = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.n_sh").alias("na"), F.col("b.n_sh").alias("nb"))
            .agg(F.count(F.lit(1)).alias("n_common"))
            .withColumn("jaccard", F.col("n_common").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("n_common"))))
    return (jac.filter(F.col("jaccard") >= 0.2)
               .select("doc_a", "doc_b", "n_common",
                       F.round("jaccard", 6).alias("jaccard")))


_N_MINHASH = 8

#: Universal-hash parameters for the MinHash "permutations":
#: h_i(x) = (a_i * (x mod p) + b_i) mod p over the Mersenne prime 2^31-1.
#: One md5 per distinct shingle (already computed for the shingle sets)
#: feeds all 8 permutations as pure integer arithmetic — exact in both
#: engines, no further cryptographic hashing, products stay under 2^62.
_MH_P = (1 << 31) - 1
_MH_AB = [(1103515245, 12345), (69069, 362437), (1664525, 1013904223),
          (22695477, 1), (1103527590, 2531011), (134775813, 1),
          (214013, 2531011), (16807, 0)]


def _mh_cte_sql(src: str = "docs", pfx: str = "") -> str:
    """``src``/``pfx`` (round 12): source-CTE name and CTE-name prefix,
    so one oracle can instantiate the minhash chain over two different
    doc universes (corpus_extend_admissions) without name collisions.
    Defaults render the exact strings every pre-round-12 oracle used."""
    mins = ", ".join(
        f"list_min(list_transform(shs, h -> "
        f"({a} * (h % {_MH_P}) + {b}) % {_MH_P})) AS h{i}"
        for i, (a, b) in enumerate(_MH_AB))
    return (f"{pfx}mh AS (SELECT doc_id, {mins} FROM {src} "
            f"WHERE len(shs) > 0)")


def _bands_cte_sql(pfx: str = "") -> str:
    arms = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, h{i} AS band_key FROM {pfx}mh"
        for i in range(_N_MINHASH))
    return f"{pfx}bands AS ({arms})"


#: Band-bucket size cap for LSH candidate generation. A bucket of B
#: colliding signatures emits B(B-1)/2 candidate pairs — quadratic in
#: the bucket, and AQE's skew-join splitting only rebalances the
#: SHUFFLE, it cannot shrink the output cardinality. At 100 TB, corpora
#: always contain mega-dup clusters (empty documents, boilerplate
#: headers, license text): one 10^6-doc cluster would emit 5*10^11
#: pairs per band without a cap. Buckets above the cap are dropped from
#: candidate generation entirely (the standard production mitigation —
#: cf. the bucket caps in published web-scale dedup pipelines): their
#: members are exact-or-near-identical en masse and are the job of the
#: EXACT dedup pass (`dedup_exact` collapses verbatim copies first),
#: and a capped pair can still surface via any other band below cap.
#: Recall loss is confined to >cap mega-clusters by construction. The
#: default is a deliberate no-op at every fixture/stress scale (max
#: observed bucket: 6 at sf0.01, 20 at sf0.1, ~100 at the 5x stress)
#: so the oracle contract pins the capped semantics without changing
#: any fixture result.
_LSH_BUCKET_CAP = 1000


def _minhash_sql(src: str = "docs", pfx: str = "") -> str:
    return f"""
{_mh_cte_sql(src, pfx)},
{_bands_cte_sql(pfx)},
{pfx}bcap AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           COUNT(*) OVER (PARTITION BY band, band_key) AS bn FROM {pfx}bands)
  WHERE bn <= {_LSH_BUCKET_CAP}),
{pfx}cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
  FROM {pfx}bcap a JOIN {pfx}bcap b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
"""


@query("dedup_minhash_lsh", _DOCS_CTE.rstrip() + ", " + _minhash_sql() + """
SELECT c.doc_a, c.doc_b, c.n_shared_bands,
       ROUND(CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
             / (len(da.shs) + len(db.shs)
                - len(list_intersect(da.shs, db.shs))), 6) AS jaccard
FROM cand c JOIN docs da ON c.doc_a = da.doc_id
            JOIN docs db ON c.doc_b = db.doc_id
WHERE CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
      / (len(da.shs) + len(db.shs) - len(list_intersect(da.shs, db.shs))) >= 0.1
""")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup: 8 universal-hash minima per document
    (affine permutations of the shared md5 shingle hash), banded
    1-row-per-band (collision prob per band ≈ Jaccard), candidate
    pairs from band-bucket equi-joins, then exact-Jaccard verification of
    the candidates ONLY via array_intersect of the per-doc shingle sets.

    100 TB path: signatures come from array HOFs over the per-row shingle
    set — zero shuffle until the (tiny) band join — and verification cost
    is proportional to candidate count, not to corpus pair count. Shingle
    sets are fixed 8-byte hashes, so the verify join moves kilobytes per
    doc regardless of document size. Band buckets above
    ``_LSH_BUCKET_CAP`` are excluded before the self-join (mirrored in
    the oracle SQL), bounding candidate cardinality against mega-dup
    clusters — see the cap's own doc for the recall contract."""
    # read 3x (signatures + both verify sides): the shared memoized
    # persisted copy — see dedup_ngram_jaccard. Signatures likewise ride
    # the session-shared memo (round 13): every minhash-family query in
    # a sweep reuses ONE persisted signature relation.
    sets = _shared_shingle_sets(spark, sf_dir)
    return _mh_verify(sets, _mh_candidates(
        sets, sigs=_shared_mh_signatures(spark, sf_dir)))


def _mh_signatures(sets: DataFrame,
                   persisted_out: list | None = None,
                   carry: tuple = ()) -> DataFrame:
    """(doc_id, h0..h7) MinHash signature relation, persisted AND
    eagerly materialized: doc_id + 8 longs (fixed 72 bytes/doc at any
    corpus size). The shingle->minhash HOF transform is the expensive
    compute here, and it statically appears once per consumer — BOTH
    self-join sides plus (round 10) the hot-bucket list.

    Eager count (round 13): a lazy persist does NOT deduplicate that
    compute under AQE — the consumers' query stages materialize
    CONCURRENTLY, and every stage that starts before the first finishes
    re-runs the full un-cached lineage (text -> tokenize -> shingle ->
    sign) in parallel; the cache only helps sequential reuse. Measured
    on corpus_extend_admissions at sf0.1: 215 s of executor time for a
    13.8 s wall, with the signature subtree appearing 2-4x as identical
    sibling stages (27 s + 23 s twins). One count() materializes the
    cache in a single pass before the fan-out; the +1 job is fixed
    ~50 ms scheduling. Same job count at 1000 executors — the pass was
    always implied by persist semantics, eager just serializes it
    ahead of the consumers."""
    mh = _mh_signature_cols(sets, carry).persist()
    mh.count()
    if persisted_out is not None:
        # let long-lived callers (pipelines/corpus.py) release this
        # persist when they are done — registry queries are one-shot
        # and covered by the bench deep-free instead
        persisted_out.append(mh)
    return mh


def _mh_signature_cols(sets: DataFrame, carry: tuple = ()) -> DataFrame:
    """The raw (unpersisted) signature projection behind
    :func:`_mh_signatures` — split out in round 13 so the session-shared
    memo (:func:`_shared_mh_signatures`) can persist it under the memo
    discipline instead of double-persisting.

    ``carry`` (round 12): passthrough columns (e.g. a corpus/batch side
    flag) preserved onto the signature relation so one-sided band
    probing can split the index without a join back to the input."""
    def perm(a, b):
        # must return a UNARY lambda: a second parameter would be bound to
        # the HOF's element-index argument by PySpark.
        return lambda h: (F.lit(a) * (h % _MH_P) + F.lit(b)) % _MH_P

    return sets.filter(F.size("shs") > 0).select(
        "doc_id", *carry,
        *[F.array_min(F.transform("shs", perm(a, b))).alias(f"h{i}")
          for i, (a, b) in enumerate(_MH_AB)])


def _mh_bands(mh: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, band, band_key): each signature exploded to its
    ``_N_MINHASH`` band bucket keys. ``carry`` columns pass through."""
    return mh.select(
        "doc_id", *carry,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"), F.col(f"h{i}").alias("band_key"))
            for i in range(_N_MINHASH)])).alias("bk")
    ).select("doc_id", *carry, "bk.band", "bk.band_key")


def _mh_hot_buckets(bands: DataFrame, bucket_cap: int) -> DataFrame:
    """The over-cap band-bucket key list (the round-10 output cap's
    extra stage): one map-side-combined aggregate over the bands
    relation, shuffling ~|distinct buckets| rows; tiny by nature (each
    mega-cluster contributes at most ``_N_MINHASH`` keys)."""
    return (bands.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") > bucket_cap)
            .select("band", "band_key"))


def _mh_candidates(sets: DataFrame,
                   bucket_cap: int | None = _LSH_BUCKET_CAP,
                   persisted_out: list | None = None,
                   sigs: DataFrame | None = None) -> DataFrame:
    """LSH band-bucket candidate generation over a (doc_id, shs) relation:
    (doc_a, doc_b, n_shared_bands), PRE-verification. Split out of
    ``dedup_minhash_lsh`` (round 9) so the end-to-end pipeline stress can
    time candidate generation and verification as separate stages; the
    stages themselves are module-level helpers (round 11) so the hotlist
    stress family can time them in isolation.

    Buckets larger than ``bucket_cap`` are excluded BEFORE the self-join
    (see ``_LSH_BUCKET_CAP``): without the cap a mega-dup cluster makes
    the candidate list quadratic in the cluster, which no shuffle-level
    skew handling can bound. The oversized-key list is tiny by nature
    (each mega-cluster contributes at most ``_N_MINHASH`` keys), so it
    rides a broadcast anti-join — the stop-shingle pattern from
    ``dedup_ngram_jaccard``. ``bucket_cap=None`` omits the hot-list
    stage entirely (the pre-cap plan — stress/measurement tooling only;
    contract queries always run capped).

    ``sigs`` (round 13): a precomputed signature relation for ``sets``
    (the session-shared memo, or a maintained state) — decision-identical
    by construction since signatures are row-local; skips the per-query
    signature persist entirely."""
    bands = _mh_bands(sigs if sigs is not None
                      else _mh_signatures(sets, persisted_out))
    if bucket_cap is not None:
        hot = _mh_hot_buckets(bands, bucket_cap)
        bands = bands.join(F.broadcast(hot), ["band", "band_key"],
                           "left_anti")
    # NOT pre-partitioned on the join key (round-13 twin-stage audit,
    # measured): the self-join's two sides are identical exchanges that
    # exchange-reuse fails to collapse (the broadcast anti-join inside
    # each side breaks canonical equality), but the A/B showed both
    # alternatives LOSE — a (band,band_key)-partitioned cache trades the
    # two overlapping parallel exchanges for one sequential
    # exchange+cache-build job (0.7 -> 1.3 s warmed), and a bare
    # repartition triples the exchanges because reuse still fails
    # (-> 1.7 s). Two overlapping exchanges of the 8-rows/doc band
    # relation is the best measured shape and a constant-factor-2 cost
    # at any scale.
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_shared_bands")))


def _mh_verify(sets: DataFrame, cand: DataFrame,
               min_jaccard: float = 0.1) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs via array_intersect
    of the per-doc shingle sets; cost proportional to candidate count.
    The threshold compares the RAW quotient (bit-identical cross-engine;
    round-6 rule) — rounding happens only in the output projection, so a
    caller with a higher bar (pipelines/corpus.py at 0.5) passes
    ``min_jaccard`` here instead of re-filtering the rounded column,
    which would put the decision one ulp from the oracle's at an exact
    half boundary (round 12)."""
    da = sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sa"))
    db = sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sb"))
    n_common = F.size(F.array_intersect("sa", "sb"))
    jaccard = (n_common.cast("double")
               / (F.size("sa") + F.size("sb") - n_common))
    return (cand.join(da, "doc_a").join(db, "doc_b")
                .withColumn("jaccard", jaccard)
                .filter(F.col("jaccard") >= min_jaccard)
                .select("doc_a", "doc_b", "n_shared_bands",
                        F.round("jaccard", 6).alias("jaccard")))


#: MinHash candidate pairs as a reusable CTE (same generation + exact-Jaccard
#: verification as ``dedup_minhash_lsh``) for the clustering step.
_MH_PAIRS_CTE = (_DOCS_CTE.rstrip() + ", " + _minhash_sql() + """,
pairs AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN docs da ON c.doc_a = da.doc_id
              JOIN docs db ON c.doc_b = db.doc_id
  WHERE CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
        / (len(da.shs) + len(db.shs) - len(list_intersect(da.shs, db.shs))) >= 0.1)""")


#: quality_score as a SQL scalar over a ``toks`` list column — the exact
#: expression ``text_quality`` emits (raw quotient chains over integer
#: counts: bit-exact cross-engine, round-6 rule).
_QUALITY_SCORE_SQL = f"""LEAST(len(toks) / 50.0, 1.0)
             * (0.5 + 0.5 * LEAST(CAST(len(list_filter(toks, x -> x IN {_SW_SQL})) AS DOUBLE)
                                  / len(toks) / 0.1, 1.0))"""


def quality_score_col(text_col) -> "F.Column":
    """The ``text_quality`` score as a row-local Column over a text
    column — THE quality expression every consumer must share
    (numeric drift between consumers would desynchronize keeper
    decisions from the quality gate). Factored out in round 12 so
    ``pipelines/corpus.py`` can compute it inline instead of
    shuffle-joining the projection back onto the same relation."""
    toks = tokens(text_col)
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    return (F.least(n / F.lit(50.0), F.lit(1.0))
            * (F.lit(0.5) + F.lit(0.5)
               * F.least(sw.cast("double") / n / 0.1, F.lit(1.0))))


def _quality_score_project(docs: DataFrame) -> DataFrame:
    """Row-local (doc_id, quality_score) projection over a (doc_id,
    text) relation: the ``text_quality`` score alone, same expression
    tree, so consumers can never drift from that query numerically.
    Taking the docs relation as input (rather than loading inside) lets
    a caller semi-join documents down to the rows it will actually rank
    BEFORE paying the tokenize — Catalyst does not push a left-semi
    join below this projection on its own (verified against the
    optimized plan in round 9), so the pruning must be structural."""
    return docs.select("doc_id",
                       quality_score_col(F.col("text"))
                       .alias("quality_score"))


def _doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality_score) for the whole corpus."""
    return _quality_score_project(widen(load_table(spark, sf_dir,
                                                   "documents")))


@query("dedup_clusters", min_label_sql(_MH_PAIRS_CTE) + f""",
q AS (SELECT doc_id, {_QUALITY_SCORE_SQL} AS quality_score
      FROM (SELECT doc_id, {{tokens}} AS toks FROM documents))
SELECT id AS doc_id, label AS cluster_id,
       CAST(id = label AS INT) AS is_canonical,
       COUNT(*) OVER (PARTITION BY label) AS n_members,
       FIRST_VALUE(id) OVER (PARTITION BY label
                             ORDER BY quality_score DESC NULLS LAST, id)
         AS keep_doc_id
FROM l{DEFAULT_CC_ITERS} JOIN q ON id = q.doc_id
""".replace("{tokens}", TOKENS_SQL.format(c='text')))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs -> transitive duplicate groups -> canonical id (the
    step after ``dedup_minhash_lsh`` that answers "which doc do I keep"):
    bounded minimum-label propagation over the pair graph assigns every
    involved doc its component's smallest doc_id as ``cluster_id``;
    ``is_canonical`` marks the structural keeper (operators/clustering.py
    — iteration count shared with the oracle for exact replay). Only docs
    appearing in at least one near-dup pair are emitted; everything else
    is trivially its own keeper.

    ``keep_doc_id`` (round-9 verdict #4) is the QUALITY-AWARE keeper a
    training-data pipeline actually retains: the cluster member with the
    highest ``text_quality`` score (ties broken by smallest doc_id —
    fully deterministic). min-doc_id canonicalization is a graph identity;
    keep_doc_id is a curation decision, and they legitimately differ when
    a later near-duplicate is the better-written copy. Landed as a
    widened output of this query per the registry-freeze rule
    (COVERAGE.md round-8 consolidation NO-GO: widening one query in place
    is permitted when hash granularity is preserved — both engines emit
    the identical extra column, so the value hash still covers every
    cell)."""
    pairs = _mh_pairs(spark, sf_dir)
    labels = propagate_min_labels(pairs)
    # semi-join documents down to cluster members BEFORE the tokenize:
    # only docs in at least one near-dup pair need a quality score
    # (~1% of the corpus here), and Catalyst won't push the join below
    # the tokenize projection itself — at 100 TB this is the difference
    # between scoring the corpus and scoring the duplicates.
    members = labels.select(F.col("id").alias("doc_id"))
    docs = (widen(load_table(spark, sf_dir, "documents"))
            .select("doc_id", "text")
            .join(members, "doc_id", "left_semi"))
    quality = _quality_score_project(docs)
    labeled = labels.join(quality, labels["id"] == quality["doc_id"]) \
                    .drop("doc_id")
    w = Window.partitionBy("label")
    wq = Window.partitionBy("label").orderBy(
        F.desc_nulls_last("quality_score"), F.asc("id"))
    return (labeled
            .withColumn("n_members", F.count(F.lit(1)).over(w))
            .withColumn("keep_doc_id", F.first("id").over(wq))
            .select(F.col("id").alias("doc_id"),
                    F.col("label").alias("cluster_id"),
                    (F.col("id") == F.col("label")).cast("int").alias("is_canonical"),
                    "n_members", "keep_doc_id"))


#: Memoized persisted relations shared across contract-query calls, keyed
#: (session, sf_dir, tag). Re-persisting a freshly built identical plan per
#: call would rely on CacheManager plan-identity dedup and pin a new
#: DataFrame handle per invocation for the whole session (round-3 ADVICE);
#: the memo hands every consumer the SAME persisted handle instead.
_SHARED_PERSISTED: dict[tuple, DataFrame] = {}


def _shared_persist(spark: SparkSession, sf_dir: str, tag: str,
                    build) -> DataFrame:
    """INVARIANT: memoized relations use ``.persist()`` and their plans
    bottom out in parquet scans — NEVER ``localCheckpoint``. The bench
    loop deep-frees every query result's ``LogicalRDD`` leaves between
    reps (``free_local_checkpoint(df, deep=True)``); a memo built on a
    localCheckpoint would have its blocks freed while the memo still
    hands out the handle, and the truncated lineage could never
    recompute them. ``.persist()`` is immune: deep-free unpersists only
    LogicalRDD leaves, and an unpersisted parquet-rooted plan can always
    recompute. The assertion makes a future violation loud at build
    time instead of a cryptic missing-block error three queries later."""
    key = (spark, sf_dir, tag)
    df = _SHARED_PERSISTED.get(key)
    if df is None:
        df = build()
        try:  # best-effort across Spark versions (internal API)
            leaves = df._jdf.queryExecution().logical().collectLeaves()
            n = leaves.size() if hasattr(leaves, "size") else len(leaves)
            for i in range(n):
                leaf = leaves.apply(i) if hasattr(leaves, "apply") else leaves[i]
                assert "LogicalRDD" not in leaf.getClass().getSimpleName(), (
                    f"_shared_persist({tag!r}): plan has a LogicalRDD leaf "
                    "(localCheckpoint?) — breaks the bench deep-free contract")
        except AssertionError:
            raise
        except Exception:
            pass
        df = df.persist()
        # eager (round 13): the first consumer query's AQE stages
        # materialize concurrently, so a lazy memo would be recomputed
        # once per sibling stage on its first use (see _mh_signatures);
        # one count() builds the cache in a single pass.
        df.count()
        _SHARED_PERSISTED[key] = df
    return df


def clear_shared_persisted() -> None:
    """Unpersist and drop every memoized shared relation (sweep teardown)."""
    for df in _SHARED_PERSISTED.values():
        df.unpersist()
    _SHARED_PERSISTED.clear()


def _shared_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc distinct-shingle-hash relation, persisted once per
    (session, sf_dir): consumed by the Jaccard, MinHash, MinHash-sweep,
    and clustering queries — without the memo each would re-persist an
    identical plan per call (round-3 ADVICE)."""
    # Pre-partitioned by doc_id (round 13, twin-stage audit): the
    # verify joins consume this relation keyed by doc_id on BOTH sides;
    # a cache with hashpartitioning(doc_id) satisfies both joins'
    # distribution requirements, so the sets side never re-shuffles —
    # at 100 TB that removes two full data-proportional exchanges per
    # dedup query (one exchange paid once at memo build instead).
    return _shared_persist(
        spark, sf_dir, "shingle_sets",
        lambda: _doc_shingle_sets(spark, sf_dir).repartition("doc_id"))


def _shared_mh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc MinHash signature relation over the shared shingle
    sets, persisted once per (session, sf_dir) — round 13: the signature
    projection is row-local, so any query needing signatures for a
    SUBSET of documents semi-joins this relation by doc_id with
    decision-identical results (the same reuse contract as
    ``extend_corpus``'s ``corpus_bands`` hook). Consumers:
    ``dedup_minhash_lsh`` (and through it the ``_mh_pairs`` memo →
    both clustering queries), ``corpus_extend_admissions``."""
    return _shared_persist(
        spark, sf_dir, "mh_signatures",
        lambda: _mh_signature_cols(_shared_shingle_sets(spark, sf_dir)))


def _shared_doc_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (doc_id, fp) normalized-text fingerprint relation,
    persisted once per (session, sf_dir) — the exact-tier identity
    ``extend_corpus`` fingerprints on (md5 of normalized raw text;
    row-local, so subset semi-joins are decision-identical)."""
    from ..functions.text import md5_hash64, normalize_text

    def build():
        d = widen(load_table(spark, sf_dir, "documents"))
        return d.select(
            "doc_id",
            md5_hash64(normalize_text(F.col("text")), seed=0).alias("fp"))
    return _shared_persist(spark, sf_dir, "doc_fps", build)


def _mh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash-LSH pair list, persisted once per (session,
    sf_dir): both clustering queries (`dedup_clusters`,
    `dedup_clusters_star`) and the label-propagation loop's edge
    checkpoint consume the identical relation; the memo returns the same
    persisted handle so candidate generation runs once."""
    return _shared_persist(
        spark, sf_dir, "mh_pairs",
        lambda: dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"))


@query("dedup_clusters_star", min_label_sql(_MH_PAIRS_CTE) + f"""
SELECT id AS doc_id, label AS cluster_id,
       CAST(id = label AS INT) AS is_canonical,
       COUNT(*) OVER (PARTITION BY label) AS n_members
FROM l{DEFAULT_CC_ITERS}
""")
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` computed by the OTHER algorithm: exact connected
    components via alternating large-star/small-star contraction
    (operators/clustering.py::connected_components_star) instead of
    bounded min-label propagation. Two independent implementations must
    agree to the hash — and the oracle is the same fixed-k min-label CTE
    chain, valid because exact CC equals converged min-labels whenever
    component diameters fit the oracle's k (near-dup components are
    near-cliques; the propagation converges in 2 rounds on this graph,
    far under k=8). This is the operator to swap in at 100 TB when the
    pair graph's diameter is unknown: O(log d) rounds instead of O(d)."""
    pairs = _mh_pairs(spark, sf_dir)
    labels = connected_components_star(pairs)
    w = Window.partitionBy("label")
    return (labels.withColumn("n_members", F.count(F.lit(1)).over(w))
            .select(F.col("id").alias("doc_id"),
                    F.col("label").alias("cluster_id"),
                    (F.col("id") == F.col("label")).cast("int").alias("is_canonical"),
                    "n_members"))


_CONTAM_K = 5  #: n-gram order for eval-set contamination (verbatim overlap)
_CONTAM_EVAL_MOD = 50  #: doc_id % MOD == 0 plays the held-out eval set


@query("docs_eval_contamination", f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform({shingles_sql('text', k=_CONTAM_K)},
                                      s -> {md5_hash64_sql('s', seed=0)})) AS g
  FROM documents),
ev AS (SELECT doc_id AS eval_id, unnest(g) AS h, len(g) AS n_eval
       FROM sh WHERE doc_id % {_CONTAM_EVAL_MOD} = 0),
tr AS (SELECT doc_id AS train_id, unnest(g) AS h
       FROM sh WHERE doc_id % {_CONTAM_EVAL_MOD} <> 0)
SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams,
       CAST(COUNT(*) AS DOUBLE) / n_eval AS contamination
FROM tr JOIN ev USING (h)
GROUP BY train_id, eval_id, n_eval
""")
def docs_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check — the pre-training hygiene step:
    find training documents sharing verbatim 5-gram spans with a held-out
    eval set (here the ``doc_id % 50 == 0`` slice; in production, the
    benchmark suites). ``contamination`` is the fraction of the eval
    doc's distinct n-grams present in the train doc.

    Scale shape: same inverted-index discipline as the dedup family —
    explode hashed n-grams, equi-join on the 8-byte hash, never
    all-pairs. The eval side is tiny by construction (it's an eval set),
    so the join broadcasts it at any corpus scale; a df-cap on stop
    n-grams (see ``_DF_CAP``) is the lever if eval docs contain
    boilerplate."""
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    g = F.array_distinct(
        F.transform(shingles_from_tokens("toks", _CONTAM_K),
                    lambda s: md5_hash64(s, seed=0)))
    # persist (memoized per session/sf_dir): both join sides (eval + train)
    # derive from this relation — without it the tokenize+shingle+md5 scan
    # runs twice.
    sh = _shared_persist(spark, sf_dir, "contam_shingles",
                         lambda: toks.select("doc_id", g.alias("g")))
    ev = (sh.filter(F.col("doc_id") % _CONTAM_EVAL_MOD == 0)
          .select(F.col("doc_id").alias("eval_id"),
                  F.size("g").alias("n_eval"),
                  F.explode("g").alias("h")))
    tr = (sh.filter(F.col("doc_id") % _CONTAM_EVAL_MOD != 0)
          .select(F.col("doc_id").alias("train_id"), F.explode("g").alias("h")))
    return (tr.join(F.broadcast(ev), "h")
            .groupBy("train_id", "eval_id", "n_eval")
            .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
            .select("train_id", "eval_id",
                    F.col("n_shared_ngrams").cast("bigint")
                    .alias("n_shared_ngrams"),
                    # raw quotient, never ROUNDed: int/int division of
                    # identical operands is bit-exact cross-engine; ROUND
                    # at 6dp is the half-boundary trap (contract/__init__).
                    (F.col("n_shared_ngrams").cast("double")
                     / F.col("n_eval")).alias("contamination")))


@query("docs_repetition_score", f"""
WITH sh AS (
  SELECT doc_id, source,
         list_transform({shingles_sql('text', k=3)},
                        s -> {md5_hash64_sql('s', seed=0)}) AS g
  FROM documents)
SELECT doc_id, source,
       CAST(len(g) AS BIGINT) AS n_ngrams,
       CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
       1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / NULLIF(len(g), 0)
         AS repetition
FROM sh
""")
def docs_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition — the Gopher-style quality signal that
    catches template/boilerplate spam: 1 − distinct/total 3-gram ratio
    per document (0 = no repeated span, →1 = the document is one span
    repeated). Pure per-row array arithmetic over the already-hashed
    shingle list — a linear scan with zero shuffles, trivially parallel
    at any corpus size; filter ``repetition > τ`` upstream of training."""
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    g = F.transform(shingles_from_tokens("toks", 3),
                    lambda s: md5_hash64(s, seed=0))
    sh = toks.select("doc_id", "source", g.alias("g"))
    nd = F.size(F.array_distinct("g")).cast("bigint")
    n = F.size("g").cast("bigint")
    return sh.select(
        "doc_id", "source",
        n.alias("n_ngrams"), nd.alias("n_distinct"),
        # raw 1 − distinct/total, never ROUNDed: identical int/int division
        # then subtraction is bit-exact cross-engine (contract/__init__).
        (F.lit(1.0) - nd.cast("double")
         / F.nullif(n, F.lit(0).cast("bigint"))).alias("repetition"))


_SIMHASH_BITS = 16


def _simhash_cte() -> str:
    """CTE chain ending in ``sims(doc_id, simhash)`` — shared between the
    signature query and the banded candidate-pair query."""
    tok_h = md5_hash64_sql("tok", seed=9)
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIMHASH_BITS))
    word = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS))
    return f"""tok AS (
  SELECT doc_id, unnest({TOKENS_SQL.format(c='text')}) AS tok FROM documents),
th AS (SELECT doc_id, {tok_h} AS h FROM tok),
bits AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id),
sims AS MATERIALIZED (SELECT doc_id, CAST({word} AS BIGINT) AS simhash FROM bits)"""


def _simhash_sql() -> str:
    return f"WITH {_simhash_cte()}\nSELECT doc_id, simhash FROM sims"


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signatures: 16-bit sign-aggregated token hashes.
    One explode + one groupBy with 16 conditional sums — a single shuffle
    keyed by doc_id; signature width is constant regardless of doc size.
    The first stage of ``dedup_simhash_pairs``, not a registered query;
    tests/test_contract_parity.py checks it against ``_simhash_sql()``."""
    d = widen(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    th = tok.select("doc_id", md5_hash64(F.col("tok"), seed=9).alias("h"))
    sums = [F.sum(F.when(F.shiftright("h", j).bitwiseAND(1) == 1, 1).otherwise(-1))
             .alias(f"s{j}") for j in range(_SIMHASH_BITS)]
    bits = th.groupBy("doc_id").agg(*sums)
    word = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        word = term if word is None else word + term
    return bits.select("doc_id", word.cast("bigint").alias("simhash"))


_SIMHASH_HAMMING_MAX = 3


@query("dedup_simhash_pairs", f"""
WITH {_simhash_cte()},
bands AS (
  SELECT doc_id, simhash, 0 AS band, simhash // 256 AS band_key FROM sims
  UNION ALL
  SELECT doc_id, simhash, 1 AS band, simhash % 256 AS band_key FROM sims),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {_SIMHASH_HAMMING_MAX}
""")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash from signature to *candidate pairs*: band the 16-bit
    signature into two 8-bit keys (any pair within Hamming distance 1 is
    guaranteed to collide on at least one band; near misses up to the
    verify threshold usually do), equi-join per band, then verify
    ``popcount(xor)`` <= {_SIMHASH_HAMMING_MAX} on the candidates only.

    Same inverted-index scale shape as MinHash-LSH: no all-pairs compare,
    shuffle keyed on the band value, verification cost proportional to
    candidate count. Completes the SimHash path to the same pair-level
    output the Jaccard/MinHash routes produce. Scale limitation (round
    10): 8-bit band keys mean 256 structural buckets, so in-bucket pair
    counts grow quadratically with the corpus — the production variant
    is a 64-bit simhash banded into 4×16-bit keys (bucket occupancy
    corpus/65536 per band, Hamming ≤ 3 guaranteed collision), same plan
    shape; a bucket-size cap is NOT the tool here because all 256
    buckets saturate together (cf. ``_LSH_BUCKET_CAP`` doc)."""
    sims = dedup_simhash(spark, sf_dir).persist()
    sims.count()  # eager: the band-join sides + Hamming verify consume
    # sims concurrently under AQE; lazy persist would re-run the full
    # per-doc simhash fold per consumer (see _mh_signatures, round 13)
    bands = sims.select(
        "doc_id", "simhash",
        F.explode(F.array(
            F.struct(F.lit(0).alias("band"),
                     F.shiftright("simhash", 8).alias("band_key")),
            F.struct(F.lit(1).alias("band"),
                     F.col("simhash").bitwiseAND(255).alias("band_key")),
        )).alias("bk")).select("doc_id", "simhash", "bk.band", "bk.band_key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.simhash").alias("sim_a"),
                     F.col("b.simhash").alias("sim_b"))
             .distinct())
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (cand.filter(hamming <= _SIMHASH_HAMMING_MAX)
                .select("doc_a", "doc_b", hamming.cast("int").alias("hamming")))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_COS = cosine_sql("q.embedding", "c.embedding")


@query("embed_knn_blas", f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding FROM embeddings),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS} AS sim
  FROM q JOIN c ON q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, ROUND(sim, 6) + 0.0 AS sim, knn_rank FROM (
  SELECT query_id, neighbor_id, sim,
         RANK() OVER (PARTITION BY query_id
                      ORDER BY ROUND(sim, 9) DESC, neighbor_id) AS knn_rank
  FROM sims)
WHERE knn_rank <= 5
""")
def embed_knn_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a 10-query set, the exactness baseline,
    by the BLAS physical strategy: Arrow-batched mapInPandas, one numpy
    GEMM per corpus batch, per-batch rank-with-ties<=k partial top-k,
    final exact rank over the surviving candidates (operators.similarity).
    The HOF strategy (``cosine_topk_hof``) is pinned equal to this one in
    tests/test_similarity.py."""
    from ..operators.similarity import cosine_topk_blas
    e = widen(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 10)
    return cosine_topk_blas(q, e, k=5)


@query("embed_knn_ivf_nprobe", f"""
WITH cent0 AS (
  SELECT label, dim,
         {DEC_AVG_SQL.format(c='CAST(embedding[dim] AS DOUBLE)', s=6)} AS m
  FROM embeddings, range(1, 65) t(dim)
  GROUP BY label, dim),
cent AS (SELECT label, list(m ORDER BY dim) AS centroid FROM cent0 GROUP BY label),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
qc AS (SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.label,
              {cosine_sql('q.embedding', 'c.centroid')} AS csim
       FROM q CROSS JOIN cent c),
probes AS (
  SELECT query_id, q_emb, label FROM (
    SELECT query_id, q_emb, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ROUND(csim, 9) DESC, label) AS r
    FROM qc) WHERE r <= 2),
sims AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {cosine_sql('p.q_emb', 'c.embedding')} AS sim
  FROM probes p JOIN embeddings c
    ON c.label = p.label AND c.vec_id <> p.query_id)
SELECT query_id, neighbor_id, ROUND(sim, 6) + 0.0 AS sim, knn_rank FROM (
  SELECT query_id, neighbor_id, sim,
         RANK() OVER (PARTITION BY query_id
                      ORDER BY ROUND(sim, 9) DESC, neighbor_id) AS knn_rank
  FROM sims)
WHERE knn_rank <= 3
""")
def embed_knn_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with the recall knob engaged: nprobe=2 — each query
    probes its TWO nearest cells by centroid cosine instead of only its
    own, trading 2× candidate cost for recall exactly
    like FAISS nprobe. Oracle-pinned end-to-end: centroids are the exact
    dec_avg per-(label, dim) means (bit-identical doubles on both
    engines), probe selection orders by ROUND(csim, 9) with the label
    tiebreak, and the cell-restricted search is the same rank-with-ties
    shape as the other ANN queries.

    Scale shape: the centroid table is tiny by construction (the coarse
    quantizer), so probe selection is a broadcast NLJ over n_cells rows
    per query — deliberate, see the plan-lint allowlist; the search
    itself stays a cell-keyed equi-join (never all-pairs). Centroid
    components stay UNROUNDED (exact decimal sum / count — identical
    doubles on both engines); quantizing the quotient is the derived-
    ratio ROUND trap (see embed_label_centroids)."""
    e = widen(load_table(spark, sf_dir, "embeddings"))
    cent = (e.select("label", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("label", "pos")
            .agg(dec_avg(F.col("val").cast("double")).alias("m"))
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("dm"))
            .select("label", F.transform("dm", lambda s: s["m"]).alias("centroid")))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    wq = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("csim", 9)), "label")
    probes = (q.crossJoin(F.broadcast(cent))
              .withColumn("csim",
                          cosine_similarity(F.col("q_emb"), F.col("centroid")))
              .withColumn("r", F.row_number().over(wq))
              .filter(F.col("r") <= 2)
              .select("query_id", "q_emb", "label"))
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("label").alias("c_label"),
                 F.col("embedding").alias("c_emb"))
    sims = (c.join(F.broadcast(probes),
                   (F.col("c_label") == F.col("label"))
                   & (F.col("neighbor_id") != F.col("query_id")))
            .select("query_id", "neighbor_id",
                    cosine_similarity(F.col("q_emb"), F.col("c_emb"))
                    .alias("sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("sim", 9)), "neighbor_id")
    return (sims.withColumn("knn_rank", F.rank().over(w))
            .filter(F.col("knn_rank") <= 3)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "knn_rank"))


@query("embed_ivf_extend_health", f"""
WITH base AS (SELECT vec_id, label, embedding FROM embeddings
              WHERE vec_id % 4 <> 0),
inc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
cent0 AS (
  SELECT label, dim,
         {DEC_AVG_SQL.format(c='CAST(embedding[dim] AS DOUBLE)', s=6)} AS m
  FROM base, range(1, 65) t(dim)
  GROUP BY label, dim),
cent AS (SELECT CAST(label AS INT) AS cell,
                list(m ORDER BY dim) AS centroid
         FROM cent0 GROUP BY label),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT i.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY i.vec_id
                              ORDER BY ROUND({cosine_sql('i.embedding',
                                                         'c.centroid')},
                                             9) DESC, c.cell) AS r
    FROM inc i CROSS JOIN cent c) WHERE r = 1),
nb AS (SELECT CAST(label AS INT) AS cell, COUNT(*) AS n_base
       FROM base GROUP BY 1),
nn AS (SELECT cell, COUNT(*) AS n_new FROM asg GROUP BY 1),
per AS (SELECT COALESCE(nb.cell, nn.cell) AS cell,
               COALESCE(n_base, 0) AS n_base, COALESCE(n_new, 0) AS n_new,
               COALESCE(n_base, 0) + COALESCE(n_new, 0) AS n_now
        FROM nb FULL OUTER JOIN nn ON nb.cell = nn.cell),
tot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
               CAST(SUM(n_now) AS BIGINT) AS tn FROM per)
SELECT per.cell, per.n_base, per.n_new, per.n_now,
       ROUND(CAST(per.n_now AS DOUBLE) / tn, 6) + 0.0 AS share_now,
       ROUND(CAST(per.n_now AS DOUBLE) / NULLIF(per.n_base, 0), 6) + 0.0
         AS density_ratio,
       CAST(LEAST(50, GREATEST(2, CEIL(2.0 * tn / tb))) AS BIGINT)
         AS suggested_overfetch
FROM per CROSS JOIN tot
""")
def embed_ivf_extend_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest + index health — finding 2 of the round-17
    ANN decade productized. The index is "trained at build" on the base
    corpus (cells = label, centroids = exact per-(label, dim) decimal
    means over the BASE only — params fixed at build, the production
    discipline the decade measured under); the increment (vec_id % 4 = 0,
    a 25% arrival) is ingested by ``ivf_assign`` against those FIXED
    centroids — no retrain, the same assignment rule (round-9 cosine,
    lowest-cell tiebreak) the search path uses. ``ivf_index_health``
    then reports per-cell occupancy/density and the density-scaled
    ``suggested_overfetch`` from the measured ADC recall curve
    (SCALING.md "ANN scale decade": recall at fixed overfetch decays
    with corpus density; widening the exact rerank recovers it at flat
    cost).

    Scale shape: ingest is the linear ``ivf_assign`` broadcast-NLJ over
    the tiny centroid table; health is two cell-keyed count aggregates
    plus a 1-row totals broadcast — O(corpus) with no new shuffle class.
    An increment assigned to a DIFFERENT cell than its source label is
    expected (that's real quantization, visible here as n_new moving
    between cells)."""
    from ..operators.similarity import ivf_assign, ivf_index_health

    e = widen(load_table(spark, sf_dir, "embeddings"))
    base = e.filter(F.col("vec_id") % 4 != 0)
    inc = (e.filter(F.col("vec_id") % 4 == 0)
           .select("vec_id", "embedding"))
    cent = (base.select("label",
                        F.posexplode("embedding").alias("pos", "val"))
            .groupBy("label", "pos")
            .agg(dec_avg(F.col("val").cast("double")).alias("m"))
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                 .alias("dm"))
            .select(F.col("label").cast("int").alias("cell"),
                    F.transform("dm", lambda s: s["m"]).alias("centroid")))
    assigned_base = base.select(F.col("label").cast("int").alias("cell"))
    assigned_new = ivf_assign(inc, cent).select("cell")
    return ivf_index_health(assigned_base, assigned_new)


# --- Product quantization (operators/pq.py) under the driver oracle ----
_PQ_M, _PQ_K, _PQ_DSUB = 4, 8, 16  # m subspaces × k codes, 64-dim → 16/sub


def _pq_adc_oracle() -> str:
    from ..functions.vectors import l2sq_sql
    m, k, d = _PQ_M, _PQ_K, _PQ_DSUB
    return f"""
WITH sv AS (
  SELECT vec_id, s.sub,
         list_transform(embedding[(s.sub*{d}+1):(s.sub*{d}+{d})],
                        x -> CAST(x AS DOUBLE)) AS subvec
  FROM embeddings, range(0, {m}) s(sub)),
init AS (
  SELECT sub, CAST(rn - 1 AS INT) AS code, subvec AS centroid
  FROM (SELECT sv.*, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
        FROM sv)
  WHERE rn <= {k}),
a0 AS (
  SELECT vec_id, sub, code, subvec FROM (
    SELECT sv.vec_id, sv.sub, i.code, sv.subvec,
           ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub
                              ORDER BY ROUND({l2sq_sql('sv.subvec', 'i.centroid')}, 9),
                                       i.code) AS r
    FROM sv JOIN init i ON sv.sub = i.sub) WHERE r = 1),
cb0 AS (
  SELECT sub, code, dim, {DEC_AVG_SQL.format(c='subvec[CAST(dim AS INT)]', s=6)} AS m
  FROM a0, range(1, {d}+1) t(dim)
  GROUP BY sub, code, dim),
cb1 AS (SELECT sub, code, list(m ORDER BY dim) AS centroid
        FROM cb0 GROUP BY sub, code),
cb AS (
  SELECT sub,
         CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY code) - 1 AS INT) AS code,
         centroid
  FROM cb1),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT sv.vec_id, sv.sub, c.code,
           ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub
                              ORDER BY ROUND({l2sq_sql('sv.subvec', 'c.centroid')}, 9),
                                       c.code) AS r
    FROM sv JOIN cb c ON sv.sub = c.sub) WHERE r = 1),
qt AS (
  SELECT sv.vec_id AS query_id, sv.sub, c.code,
         {l2sq_sql('sv.subvec', 'c.centroid')} AS d2
  FROM sv JOIN cb c ON sv.sub = c.sub
  WHERE sv.vec_id < 5),
ad AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         SUM(q.d2 ORDER BY q.sub) AS adc_dist
  FROM enc e JOIN qt q ON e.sub = q.sub AND e.code = q.code
  WHERE e.vec_id <> q.query_id
  GROUP BY q.query_id, e.vec_id)
SELECT query_id, neighbor_id, ROUND(adc_dist, 6) + 0.0 AS adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist,
         RANK() OVER (PARTITION BY query_id
                      ORDER BY ROUND(adc_dist, 9), neighbor_id) AS rk
  FROM ad) WHERE rk <= 5
"""


@query("embed_pq_adc_topk", _pq_adc_oracle())
def embed_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed ANN tier (operators/pq.py) end-to-end under full
    oracle hash strictness: train a product-quantization codebook
    (deterministic k-smallest-ids init + ONE Lloyd iteration with
    ``dec_avg`` centroid means — bit-identical cross-engine, the IVF
    contract discipline), encode the corpus to m=4 one-byte codes, and
    answer a 5-query top-5 by asymmetric distance computation: per-query
    (m × k) distance tables, m positional lookups per corpus row, no
    float vector read at scan time.

    The oracle replays the IDENTICAL pipeline in SQL — init, rounded
    assignment with code tiebreak, dec_avg recompute, code
    densification (empty clusters), re-assignment encode, and the
    sub-ordered ADC fold (``SUM(d2 ORDER BY sub)`` ≡ Spark's in-order
    ``aggregate`` over the codes array) — so every ADC distance hashes
    bit-exactly. The production defaults (n_iters=2, plain ``F.avg``,
    rerank/IVF-PQ composition) stay pytest-pinned in tests/test_pq.py;
    recall floors live there, not here."""
    from ..operators.pq import pq_adc_topk, pq_encode, pq_train
    e = widen(load_table(spark, sf_dir, "embeddings"))
    # memoized persist (the _shared_shingle_sets discipline): the
    # codebook subtree is referenced by BOTH the codes and the
    # query-tables branches, so without the persist the whole Lloyd
    # training would execute twice per run
    cb = _shared_persist(
        spark, sf_dir, "pq_codebook",
        lambda: pq_train(e, m=_PQ_M, k=_PQ_K, n_iters=1, dim=64,
                         avg_fn=dec_avg))
    codes = pq_encode(e, cb, m=_PQ_M, dim=64)
    q = e.filter(F.col("vec_id") < 5)
    return pq_adc_topk(q, codes, cb, k=5, m=_PQ_M, dim=64)


_SIGN_BITS = 8

_SIGN_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{d}] >= 0 THEN {1 << (d - 1)} ELSE 0 END)"
    for d in range(1, _SIGN_BITS + 1))


@query("dedup_embed_cosine", f"""
WITH b AS (
  SELECT vec_id, embedding, {_SIGN_BUCKET_SQL} AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         {cosine_sql('a.embedding', 'c.embedding')} AS cos
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
SELECT vec_a, vec_b, ROUND(cos, 6) AS cos
FROM pairs WHERE cos >= 0.35
""")
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-bit LSH.

    Bucket key = sign pattern of the first 8 dimensions (a fixed-hyperplane
    random-projection sketch): vectors with high cosine land in the same
    bucket with high probability, and candidate verification is an
    in-bucket self-join — ~|buckets|× fewer pairs than all-pairs. All JVM
    expressions; the only shuffle is the bucket equi-join, and AQE splits
    a hot bucket's SHUFFLE partitions. Output cardinality is bounded by
    the bit width, not a cap: 8 sign bits = 256 structural buckets, so
    in-bucket pair count is ~(corpus/256)²/2 per bucket — fine at fixture
    scale, quadratic at corpus scale. The production dial is MORE sign
    bits (k ≈ log2(corpus / target_bucket_size) keeps buckets
    constant-sized; multiple independent bit-tables recover the recall
    each added bit costs) — a size cap like ``_LSH_BUCKET_CAP`` is wrong
    here because every bucket saturates identically and a cap would drop
    the whole corpus. The 0.35 threshold is tuned to the synthetic corpus
    (its cosine ceiling is ~0.5); production near-dup would use ~0.9."""
    e = widen(load_table(spark, sf_dir, "embeddings"))
    bucket = None
    for d in range(1, _SIGN_BITS + 1):
        term = F.when(F.element_at("embedding", d) >= 0,
                      F.lit(1 << (d - 1))).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    a, c = b.alias("a"), b.alias("c")
    pairs = (a.join(c, (F.col("a.bucket") == F.col("c.bucket"))
                    & (F.col("a.vec_id") < F.col("c.vec_id")))
              .select(F.col("a.vec_id").alias("vec_a"),
                      F.col("c.vec_id").alias("vec_b"),
                      cosine_similarity(F.col("a.embedding"),
                                        F.col("c.embedding")).alias("cos")))
    return (pairs.filter(F.col("cos") >= 0.35)
                 .select("vec_a", "vec_b", F.round("cos", 6).alias("cos")))


_NORM_SQL = ("sqrt(list_sum(list_transform(embedding, "
             "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")


@query("embed_normalize_quantize", f"""
SELECT vec_id,
       ROUND({_NORM_SQL}, 6) AS l2_norm,
       array_to_string(list_transform(embedding,
                       x -> CAST(ROUND(CAST(x AS DOUBLE)
                                       / NULLIF({_NORM_SQL}, 0) * 127)
                                 AS INT)), ',') AS q_int8
FROM embeddings
""")
def embed_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store ingestion prep: L2-normalize each embedding and
    symmetric-int8-quantize it (unit components scaled by 127) — the
    storage transform that shrinks an ANN corpus 4x and makes dot
    products integer ops. Pure per-row JVM array HOFs (same double
    expression tree as the DuckDB oracle, NULLIF zero-norm guard): a
    zero-shuffle linear scan at any corpus size. Dequantization error is
    bounded by 1/254 per component — the standard recall trade.

    The quantized vector is emitted as a comma-joined STRING, not an
    ARRAY: contract queries must never return array columns (the driver's
    pandas canonicalizer cannot sort them — round-3 VERDICT.md red row;
    the round-trip ``split(q_int8, ',')`` recovers the vector losslessly
    since int8 components have exact decimal text)."""
    e = widen(load_table(spark, sf_dir, "embeddings"))
    from ..functions.vectors import l2_norm
    norm = l2_norm(F.col("embedding"))
    safe = F.nullif(norm, F.lit(0.0))
    q = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") / safe * 127, 0).cast("int"))
    return e.select("vec_id",
                    F.round(norm, 6).alias("l2_norm"),
                    F.array_join(q, ",").alias("q_int8"))


@query("embed_label_centroids", f"""
SELECT label, dim,
       {DEC_AVG_SQL.format(c='CAST(embedding[dim] AS DOUBLE)', s=6)} AS centroid
FROM embeddings, range(1, 65) t(dim)
GROUP BY label, dim
""")
def embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (the IVF training step): posexplode → per-(label,
    dim) mean. One shuffle keyed by (label, dim) — fully parallel across
    dimensions, no driver-side vectors.

    The mean is the exact-DECIMAL form (``dec_avg``): the per-label group
    is unbounded at scale, and a float sum's merge order would wiggle the
    last ulps between runs (functions/determinism.py). Emitted UNROUNDED:
    both engines divide the identical exact decimal sum by the identical
    count, so the raw double matches bit-for-bit — whereas ROUND(·, 6) of
    the quotient is the "never quantize derived ratios" trap: at sf0.1
    one group's mean lands exactly on a 7-decimal half-boundary
    (0.616992/192 = 0.0032135), where Spark's shortest-repr HALF_UP and
    DuckDB's float-multiply ROUND disagree by one 6dp ulp."""
    e = widen(load_table(spark, sf_dir, "embeddings"))
    ex = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    return (ex.groupBy("label", (F.col("pos") + 1).alias("dim"))
              .agg(dec_avg(F.col("val").cast("double")).alias("centroid")))


# ---------------------------------------------------------------------------
# Training-corpus preparation: vocabulary, n-gram counts, splits, sampling
# ---------------------------------------------------------------------------

@query("text_vocab_top", f"""
WITH tok AS (SELECT doc_id, unnest({TOKENS_SQL.format(c='text')}) AS tok
             FROM documents)
SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM tok WHERE tok <> ''
GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 100
""")
def text_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build (the tokenizer-training precursor): explode
    normalized tokens, count occurrences and document frequency, top-100
    by count with the token as the deterministic tie-break. One shuffle
    keyed by token with map-side partial aggregation; the top-k compiles
    to TakeOrderedAndProject — no global sort of the vocabulary."""
    d = widen(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    return (tok.filter(F.col("tok") != "")
            .groupBy(F.col("tok").alias("token"))
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.desc("n_occurrences"), "token").limit(100))


@query("text_bigram_top", f"""
WITH bg AS (SELECT unnest({shingles_sql('text', k=2)}) AS bigram
            FROM documents)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM bg GROUP BY bigram ORDER BY COUNT(*) DESC, bigram LIMIT 100
""")
def text_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (language-model data prep): 2-token shingles
    with multiplicity, counted globally, deterministic top-100. The
    shingle explode emits (n_tokens - 1) rows per doc; partial
    aggregation collapses repeats before the shuffle."""
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = d.select(tokens(F.col("text")).alias("toks"))
    bg = toks.select(F.explode(shingles_from_tokens("toks", 2)).alias("bigram"))
    return (bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
              .orderBy(F.desc("n"), "bigram").limit(100))


@query("docs_split_assign", f"""
SELECT doc_id,
       CASE WHEN {md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=7)} % 100 < 80
              THEN 'train'
            WHEN {md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=7)} % 100 < 90
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
""")
def docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by hashing the
    document id — reproducible across runs, engines, and corpus
    re-partitions, unlike randomSplit (which is seed- AND
    partitioning-dependent). Pure Catalyst expression: no shuffle at all
    (no widen() either — the md5 projection rides the scan; pinned
    Exchange-free in tests/test_plans_shape.py), computable at scan time
    of any 100 TB corpus."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_hash64(F.col("doc_id").cast("string"), seed=7) % 100
    split = (F.when(bucket < 80, "train")
              .when(bucket < 90, "val").otherwise("test"))
    return d.select("doc_id", split.alias("split"))


@query("docs_sample_stratified", f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN {md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=11)}
                          % 1000 < 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled
FROM documents GROUP BY source
""")
def docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling audit: a 10% hash-gate per
    document (md5 % 1000 < 100), counted per source stratum. The gate is
    a pure row-local expression — at 100 TB the sample IS the filtered
    scan, no shuffle, and re-runs select the identical rows (unlike
    df.sample, which depends on partitioning)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    gate = (md5_hash64(F.col("doc_id").cast("string"), seed=11) % 1000 < 100)
    return (d.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_total"),
                  F.sum(gate.cast("int")).cast("bigint").alias("n_sampled")))


@query("docs_sample_topn_per_source", f"""
SELECT doc_id, source, hash_rank
FROM (SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=29)},
                        doc_id) AS hash_rank
      FROM documents)
WHERE hash_rank <= 5
""")
def docs_sample_topn_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k-per-group deterministic sample (the "take 5 examples
    per source for the eval sheet" shape — complements the rate-based
    gates, which cannot promise a count): rank docs within each source
    by a seeded md5 hash (doc_id tiebreak) and keep rank <= 5. The
    hash-order makes the pick pseudorandom yet identical on every
    re-run and partitioning — a distributed deterministic reservoir.

    One shuffle on the group key; rank <= k pushes down as a window
    limit per group (Spark plans a per-partition top-k sort, never a
    full sort). At 100 TB this replaces driver-side df.sample loops:
    the per-group state is k rows, executor-resident."""
    d = widen(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(
        md5_hash64(F.col("doc_id").cast("string"), seed=29), "doc_id")
    return (d.select("doc_id", "source",
                     F.row_number().over(w).alias("hash_rank"))
            .filter(F.col("hash_rank") <= 5))


@query("docs_length_band", f"""
WITH a AS (SELECT list_sort(list(CAST(n_chars AS DOUBLE))
                            FILTER (WHERE n_chars IS NOT NULL)) AS l
           FROM documents),
q AS (SELECT {spark_pct_sql('l', 'len(l)', 0.05)} AS lo,
             {spark_pct_sql('l', 'len(l)', 0.95)} AS hi
      FROM a)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN d.n_chars >= q.lo AND d.n_chars <= q.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d, q GROUP BY d.source
""")
def docs_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-quantile quality filter (drop the shortest/longest 5% of
    the corpus): exact P5/P95 of n_chars as a 1-row relation, broadcast
    cross join against the corpus (the 3-sigma outlier shape — a
    single-row nested loop, no shuffle of the fact side), keep-rate
    audited per source.

    The oracle renders the percentile via ``spark_pct_sql``, NOT
    ``quantile_cont`` (round-8): n_chars is integer-valued, so the
    interpolation bracket can land on DUPLICATE values, where DuckDB's
    arithmetic drifts one ulp from Spark's stored-value short-circuit —
    and a 1-ulp threshold drift below an integer would flip n_kept for
    every row sitting exactly at the band edge."""
    d = widen(load_table(spark, sf_dir, "documents"))
    lo, hi = M.percentiles(F.col("n_chars").cast("double"), 0.05, 0.95)
    q = d.agg(lo.alias("lo"), hi.alias("hi"))
    j = d.crossJoin(F.broadcast(q))
    kept = ((F.col("n_chars") >= F.col("lo"))
            & (F.col("n_chars") <= F.col("hi"))).cast("int")
    return (j.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_total"),
                  F.sum(kept).cast("bigint").alias("n_kept")))


@query("text_tfidf_top_terms", f"""
WITH tok AS (SELECT doc_id, unnest({TOKENS_SQL.format(c='text')}) AS tok
             FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE tok <> ''
       GROUP BY doc_id, tok),
idf AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok WHERE tok <> ''
        GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok AS token,
         CAST(tf.tf AS BIGINT) AS tf, CAST(idf.df AS BIGINT) AS df,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df), 6) AS tfidf
  FROM tf JOIN idf ON tf.tok = idf.tok, n)
SELECT doc_id, token, tf, df, tfidf FROM (
  SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, token) AS rn
  FROM scored)
WHERE rn <= 3
""")
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF relevance scoring: top-3 terms per document. Term
    frequencies and document frequencies are two shuffles keyed by
    (doc, token) and token; the corpus size joins in as a broadcast
    1-row relation; the per-doc top-3 is a row_number window ordered by
    the ROUNDed score (then token) so ordering can't flip on a libm-ulp
    difference in ln() between engines."""
    d = widen(load_table(spark, sf_dir, "documents"))
    tok = (d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
           .filter(F.col("tok") != ""))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf, not from tok: tf is already distinct per
    # (doc_id, tok), so COUNT(*) per tok == COUNT(DISTINCT doc_id) — and it
    # skips a second full tokenize+explode pass over the corpus (the r3
    # bench regression: the most expensive stage ran twice).
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(df, "tok").crossJoin(F.broadcast(n))
              .select("doc_id", F.col("tok").alias("token"), "tf", "df",
                      F.round(F.col("tf") * F.log(
                          F.col("n_docs").cast("double") / F.col("df")), 6)
                       .alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("doc_id", "token", "tf", "df", "tfidf"))


# ---------------------------------------------------------------------------
# Round-4 additions: sequence packing, unigram LM scoring, blocked
# edit-distance near-dup, IVF nprobe parameter sweep
# ---------------------------------------------------------------------------

@query("docs_pack_chunks", f"""
WITH nt AS (SELECT doc_id, source, len({{toks}}) AS nt FROM documents),
packed AS (
  SELECT doc_id, source, nt,
         SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - nt AS off
  FROM nt)
SELECT source, CAST(off // 2048 AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed GROUP BY source, off // 2048
""".format(toks=TOKENS_SQL.format(c='text')))
def docs_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing (the concat-then-chunk shape every
    LLM pretraining loader uses): documents are laid end-to-end in
    deterministic (source, doc_id) order, each doc's token offset is a
    cumulative sum, and chunk_id = offset DIV 2048 assigns every doc to
    its 2048-token context window. Per-chunk stats audit fill quality.

    Packing is PER SOURCE (the shard key): one keyed shuffle for the
    window, parallel across sources, never a global single-partition
    sort — at 100 TB the shard key would be (source, file-split) so the
    cumsum stays distributed. All-integer arithmetic: bit-exact."""
    d = widen(load_table(spark, sf_dir, "documents"))
    nt = d.select("doc_id", "source",
                  F.size(tokens(F.col("text"))).alias("nt"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = nt.withColumn("off", F.sum("nt").over(w) - F.col("nt"))
    return (packed.withColumn("chunk_id", F.expr("off DIV 2048"))
            .groupBy("source", "chunk_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nt").cast("bigint").alias("total_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


@query("docs_unigram_score", f"""
WITH tok AS (SELECT doc_id, unnest({TOKENS_SQL.format(c='text')}) AS tok
             FROM documents),
dtf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok WHERE tok <> ''
        GROUP BY doc_id, tok),
uni AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n_tok FROM dtf GROUP BY tok),
tot AS (SELECT CAST(SUM(n_tok) AS DOUBLE) AS total FROM uni),
terms AS (
  SELECT d.doc_id, d.cnt,
         CAST(d.cnt AS DOUBLE) * (CAST(u.n_tok AS DOUBLE) / t.total) AS term
  FROM dtf d JOIN uni u ON d.tok = u.tok CROSS JOIN tot t)
SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       {FOLD_SUM_SQL.format(c='term')} / SUM(cnt) AS mean_token_p
FROM terms GROUP BY doc_id
""")
def docs_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score per document: the corpus
    unigram distribution p(tok) = count(tok)/total, and each doc scores
    the mean probability of its tokens (high = templatey/common text,
    low = rare-token noise) — the bit-exact stand-in for the usual
    mean-logprob perplexity filter: ln() is libm-private at the last ulp
    cross-engine, while count ratios, IEEE multiplies, and the sorted
    sequential fold are exactly specified, so the contract hash holds at
    full float strictness.

    One tokenize pass: per-doc term frequencies (doc_id, tok, cnt) feed
    BOTH the unigram table (second-level agg) and the scoring join — the
    TF-IDF double-tokenization lesson applied. The corpus total joins as
    a broadcast 1-row relation; the per-doc fold buffers distinct tokens
    per doc (schema-bounded by doc length)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    tok = (d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
           .filter(F.col("tok") != ""))
    dtf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    uni = dtf.groupBy("tok").agg(F.sum("cnt").cast("bigint").alias("n_tok"))
    tot = uni.agg(F.sum("n_tok").cast("double").alias("total"))
    terms = (dtf.join(uni, "tok").crossJoin(F.broadcast(tot))
             .select("doc_id", "cnt",
                     (F.col("cnt").cast("double")
                      * (F.col("n_tok").cast("double") / F.col("total")))
                     .alias("term")))
    return (terms.groupBy("doc_id")
            .agg(F.sum("cnt").cast("bigint").alias("n_tokens"),
                 (fold_sum(F.col("term")) / F.sum("cnt"))
                 .alias("mean_token_p")))


#: Blocking-key occupancy cap for the edit-distance near-dup query —
#: the Levenshtein analog of ``_LSH_BUCKET_CAP``, and MORE critical
#: there: each surviving pair pays an O(len²) dynamic program, so an
#: uncapped mega-block (identical boilerplate docs share both the
#: length band and the first word) is quadratic pairs × quadratic
#: verify. Same recall contract (mega-blocks are exact-dedup's job;
#: measured fixture max block: 4 at sf0.01, 14 at sf0.1 — the default
#: is a no-op at every tested scale) and the same oracle mirroring.
_LEV_BLOCK_CAP = 1000

@query("docs_levenshtein_near", f"""
WITH d0 AS (SELECT doc_id, text, n_chars // 16 AS band,
                   split_part(text, ' ', 1) AS w1
            FROM documents
            WHERE regexp_matches(text, '^[\\t\\n\\r -~]*$')),
d AS (SELECT doc_id, text, band, w1 FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, w1) AS bn FROM d0)
      WHERE bn <= {_LEV_BLOCK_CAP})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
FROM d a JOIN d b
  ON a.band = b.band AND a.w1 = b.w1 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= 20
""")
def docs_levenshtein_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-duplicate detection: candidate pairs
    come from an EQUI-join on a blocking key (length band DIV 16 + first
    token) and only candidates pay the O(len^2) Levenshtein verify —
    the canonical blocking shape for metric dedup when shingle overlap
    is too coarse (near-identical docs differing by a few chars).

    Never all-pairs: at 100 TB the block key bounds each join bucket,
    AQE splits a hot block's shuffle, and blocks above ``_LEV_BLOCK_CAP``
    are excluded outright (broadcast anti-join, mirrored in the oracle) —
    without that, identical boilerplate docs share one block and pay
    quadratic pairs × O(len²) verify, which no shuffle-level mechanism
    bounds. Edit distance is integer dynamic programming, BUT
    the unit differs cross-engine on non-ASCII text: Spark counts
    codepoint edits while DuckDB counts UTF-8 byte edits, so both sides
    restrict to ASCII-only documents (identical regex gate) where the
    units coincide — the contract is explicitly ASCII-scoped, not
    accidentally so (round-4 ADVICE). A production corpus would either
    accept the engine's own unit or pre-fold to a byte-stable
    projection; the blocking shape is unchanged either way."""
    d = (widen(load_table(spark, sf_dir, "documents"))
         .filter(F.col("text").rlike("^[\\t\\n\\r -~]*$"))
         .select(
        "doc_id", "text", F.expr("n_chars DIV 16").alias("band"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("w1")))
    hot = (d.groupBy("band", "w1").agg(F.count(F.lit(1)).alias("bn"))
           .filter(F.col("bn") > _LEV_BLOCK_CAP).select("band", "w1"))
    d = d.join(F.broadcast(hot), ["band", "w1"], "left_anti")
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("t_a"),
                 "band", "w1")
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("t_b"),
                 F.col("band").alias("band_b"), F.col("w1").alias("w1_b"))
    return (a.join(b, (F.col("band") == F.col("band_b"))
                   & (F.col("w1") == F.col("w1_b"))
                   & (F.col("doc_a") < F.col("doc_b")))
            # threshold-bounded DP: Spark's 3-arg levenshtein early-exits
            # once the running distance exceeds 20 (O(len·k) per pair,
            # not O(len²)) and returns -1 for over-threshold pairs — the
            # exact distance for kept pairs is unchanged, so the oracle's
            # unbounded levenshtein(..) <= 20 filter selects the same
            # rows with the same values
            .withColumn("edit_dist",
                        F.levenshtein(F.col("t_a"), F.col("t_b"),
                                      20).cast("bigint"))
            .filter(F.col("edit_dist") >= 0)
            .select("doc_a", "doc_b", "edit_dist"))


#: Per-source sampling rates (per mille) for the mixture query: the
#: temperature-reweighting shape — upsample scarce/high-quality sources,
#: downsample the crawl-dominant one.
_MIXTURE_RATES = {"src0": 1000, "src1": 500, "src2": 250, "src3": 125}
_MIXTURE_DEFAULT = 63


def _mixture_thresh_sql() -> str:
    whens = " ".join(f"WHEN '{s}' THEN {t}" for s, t in _MIXTURE_RATES.items())
    return f"CASE source {whens} ELSE {_MIXTURE_DEFAULT} END"


@query("docs_mixture_sample", f"""
WITH g AS (
  SELECT source, {_mixture_thresh_sql()} AS thresh,
         CAST({md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=13)} % 1000
              < {_mixture_thresh_sql()} AS INT) AS kept
  FROM documents)
SELECT source, CAST(MAX(thresh) AS BIGINT) AS rate_per_mille,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS achieved_rate
FROM g GROUP BY source
""")
def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling with PER-SOURCE rates (the
    data-mixture reweighting step of a pretraining pipeline — upsample
    curated sources, downsample the crawl): a md5 hash gate per document
    against that source's threshold, audited per source against the
    target rate. Differs from ``docs_sample_stratified`` (uniform rate
    per stratum) in that the rate map IS the knob.

    The gate is a row-local expression: at 100 TB the sample is the
    filtered scan itself — no shuffle beyond the audit rollup — and
    re-runs select identical rows on any partitioning."""
    d = widen(load_table(spark, sf_dir, "documents"))
    thresh = F.lit(_MIXTURE_DEFAULT)
    for s, t in reversed(_MIXTURE_RATES.items()):
        thresh = F.when(F.col("source") == s, t).otherwise(thresh)
    kept = (md5_hash64(F.col("doc_id").cast("string"), seed=13) % 1000
            < thresh).cast("int")
    return (d.select("source", thresh.alias("thresh"), kept.alias("kept"))
            .groupBy("source")
            .agg(F.max("thresh").cast("bigint").alias("rate_per_mille"),
                 F.count(F.lit(1)).alias("n_total"),
                 F.sum("kept").cast("bigint").alias("n_kept"),
                 (F.sum("kept").cast("double") / F.count(F.lit(1)))
                 .alias("achieved_rate")))


@query("dedup_incremental_ingest",
       _DOCS_CTE.rstrip() + ", " + _mh_cte_sql() + ", " + _bands_cte_sql()
       + f""",
bcap AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           COUNT(*) OVER (PARTITION BY band, band_key) AS bn FROM bands)
  WHERE bn <= {_LSH_BUCKET_CAP}),
inc AS (SELECT doc_id FROM docs WHERE doc_id % 10 >= 8),
cand AS (
  SELECT i.doc_id AS inc_doc, e.doc_id AS ex_doc
  FROM bcap i JOIN bcap e
    ON i.band = e.band AND i.band_key = e.band_key
   AND i.doc_id % 10 >= 8 AND e.doc_id % 10 < 8
  GROUP BY ALL),
jac AS (
  SELECT c.inc_doc, c.ex_doc,
         CAST(len(list_intersect(di.shs, de.shs)) AS DOUBLE)
           / (len(di.shs) + len(de.shs)
              - len(list_intersect(di.shs, de.shs))) AS j
  FROM cand c JOIN docs di ON c.inc_doc = di.doc_id
              JOIN docs de ON c.ex_doc = de.doc_id),
ver AS (
  SELECT inc_doc, ex_doc AS dup_of, j AS best_jaccard
  FROM (SELECT inc_doc, ex_doc, j,
               ROW_NUMBER() OVER (PARTITION BY inc_doc
                                  ORDER BY j DESC, ex_doc ASC) AS rn
        FROM jac WHERE j >= 0.1)
  WHERE rn = 1)
SELECT inc.doc_id, CAST(ver.dup_of IS NOT NULL AS INT) AS is_dup,
       ver.dup_of, ver.best_jaccard
FROM inc LEFT JOIN ver ON inc.doc_id = ver.inc_doc
""")
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest NEAR-dup check — the production shape the
    whole-corpus dedup queries miss: a new batch ("incoming", 20% of
    docs by a deterministic id split) is checked against the
    already-ingested corpus ("existing") via MinHash band collisions,
    candidates verified by exact Jaccard (>= 0.1), and each incoming doc
    emerges marked duplicate-of the existing doc that ACHIEVES its best
    Jaccard (raw quotient; smallest id on exact ties — a coherent
    arg-max pair, not MIN-doc/MAX-j from different docs) or novel.

    At 100 TB the existing side is the maintained (band, band_key ->
    doc) index — appended per accepted batch, never recomputed — and the
    check joins only the incoming batch's bands against it; verification
    touches candidates only. Finds the planted near-identical pairs that
    straddle the split (is_dup > 0 pinned in tests), which an
    exact-fingerprint check misses entirely (zero exact-dup fingerprints
    in the corpus)."""
    sets = _shared_shingle_sets(spark, sf_dir)
    # signatures from the session-shared memo (round 13): identical
    # projection, one persisted copy across the minhash family
    bands = _mh_bands(_shared_mh_signatures(spark, sf_dir))
    # same mega-bucket cap as _mh_candidates: an oversized bucket on the
    # EXISTING side would make every incoming doc that touches it emit
    # bucket-size candidates; cap computed over both sides together so
    # the maintained index and the batch see one consistent rule.
    hot = (bands.groupBy("band", "band_key")
           .agg(F.count(F.lit(1)).alias("bn"))
           .filter(F.col("bn") > _LSH_BUCKET_CAP)
           .select("band", "band_key"))
    bands = bands.join(F.broadcast(hot), ["band", "band_key"], "left_anti")
    i_b = (bands.filter(F.col("doc_id") % 10 >= 8)
           .select(F.col("doc_id").alias("inc_doc"), "band", "band_key"))
    e_b = (bands.filter(F.col("doc_id") % 10 < 8)
           .select(F.col("doc_id").alias("ex_doc"),
                   F.col("band").alias("e_band"),
                   F.col("band_key").alias("e_key")))
    cand = (i_b.join(e_b, (F.col("band") == F.col("e_band"))
                     & (F.col("band_key") == F.col("e_key")))
            .select("inc_doc", "ex_doc").distinct())
    di = sets.select(F.col("doc_id").alias("inc_doc"), F.col("shs").alias("si"))
    de = sets.select(F.col("doc_id").alias("ex_doc"), F.col("shs").alias("se"))
    n_common = F.size(F.array_intersect("si", "se"))
    j = n_common.cast("double") / (F.size("si") + F.size("se") - n_common)
    # arg-max, not (MIN doc, MAX j): dup_of must be the existing doc that
    # ACHIEVES best_jaccard (smallest id on exact-j ties) so the emitted
    # row is a real (duplicate-of, similarity) pair — round-4 ADVICE. The
    # tie order is engine-stable: j is the same IEEE divide of exact ints
    # on both sides, and ex_doc breaks exact ties deterministically.
    w_best = Window.partitionBy("inc_doc").orderBy(
        F.desc("j"), F.asc("ex_doc"))
    ver = (cand.join(di, "inc_doc").join(de, "ex_doc")
           .withColumn("j", j).filter(F.col("j") >= 0.1)
           .withColumn("rn", F.row_number().over(w_best))
           .filter(F.col("rn") == 1)
           .select("inc_doc", F.col("ex_doc").alias("dup_of"),
                   F.col("j").alias("best_jaccard")))
    inc = sets.filter(F.col("doc_id") % 10 >= 8).select("doc_id")
    return (inc.join(ver, F.col("doc_id") == F.col("inc_doc"), "left")
            .select("doc_id",
                    F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
                    "dup_of", "best_jaccard"))


@query("docs_select_token_budget", """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         CAST(SUM(n_chars) OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)
              AS BIGINT) AS cum_chars
  FROM documents)
SELECT doc_id, source, n_chars, cum_chars,
       CAST(cum_chars <= 10000 AS INT) AS selected
FROM ranked
""")
def docs_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection (the data-selection step of a
    pretraining pipeline: keep the best documents per source until that
    source's token budget is spent): rank docs within each source by
    quality (longest-first here; any deterministic score slots in),
    take the running total, and select while the cumulative size fits
    the 10k-char budget. The greedy-under-budget rule is exactly one
    keyed cumulative-sum window — no iteration, no driver loop.

    Scale: state per source = one running integer; the window shuffles
    once on the source key. Budgets are enforced per source, so the
    global selection parallelizes across sources — the shape that lets
    'curate N tokens per domain' run over an arbitrary corpus. Integer
    sums: bit-exact on any engine."""
    d = widen(load_table(spark, sf_dir, "documents"))
    w = (Window.partitionBy("source")
         .orderBy(F.desc("n_chars"), "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d.select("doc_id", "source", "n_chars",
                     F.sum("n_chars").over(w).alias("cum_chars"))
            .withColumn("selected",
                        (F.col("cum_chars") <= 10000).cast("int")))


_NEG_BUCKETS = 8   #: hash-ring buckets (scale: windows are per-bucket)
_NEG_K = 2         #: negatives per anchor


@query("docs_negative_samples", f"""
WITH ring AS (
  SELECT doc_id, source,
         {md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=37)} % {_NEG_BUCKETS}
           AS bucket,
         ROW_NUMBER() OVER (
           PARTITION BY {md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=37)}
                        % {_NEG_BUCKETS}
           ORDER BY {md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=41)},
                    doc_id) AS rn,
         COUNT(*) OVER (
           PARTITION BY {md5_hash64_sql("CAST(doc_id AS VARCHAR)", seed=37)}
                        % {_NEG_BUCKETS}) AS bsize
  FROM documents),
pairs AS (
  SELECT a.doc_id AS anchor_id, a.bucket, a.rn, off.off,
         (a.rn - 1 + off.off) % a.bsize + 1 AS partner_rn
  FROM ring a, (SELECT UNNEST(range(1, {_NEG_K + 1})) AS off) off)
SELECT p.anchor_id, p.off AS neg_no, b.doc_id AS negative_id,
       CAST(a2.source <> b.source AS INT) AS cross_source
FROM pairs p
JOIN ring b ON b.bucket = p.bucket AND b.rn = p.partner_rn
JOIN ring a2 ON a2.doc_id = p.anchor_id
WHERE b.doc_id <> p.anchor_id
""")
def docs_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    every document gets K pseudorandom partner documents from a seeded
    md5 HASH RING — docs are bucketed by one hash, ordered around each
    bucket's ring by a second hash, and each anchor's negatives are the
    next K positions around its ring (wrapping). Re-runs, repartitions,
    and incremental rebuilds pick the identical negatives — the property
    `df.sample`-based negative mining cannot give.

    Scale: both the ring ordering and the partner lookup are per-BUCKET
    windows and equi-joins (bucket count is the parallelism knob; no
    global row-numbering, which would serialize at 100 TB). Join fan-out
    is exactly K rows per anchor. Self-pairs only occur in singleton
    buckets and are filtered identically on both engines;
    ``cross_source`` audits how often the ring crosses domains."""
    d = widen(load_table(spark, sf_dir, "documents"))
    h_bucket = md5_hash64(F.col("doc_id").cast("string"), seed=37)
    h_order = md5_hash64(F.col("doc_id").cast("string"), seed=41)
    wb = Window.partitionBy("bucket")
    ring = (d.select("doc_id", "source",
                     (h_bucket % _NEG_BUCKETS).alias("bucket"),
                     h_order.alias("h_order"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("bucket").orderBy("h_order", "doc_id")))
            .withColumn("bsize", F.count(F.lit(1)).over(wb))
            .drop("h_order"))
    offs = F.explode(F.array(*[F.lit(i) for i in range(1, _NEG_K + 1)]))
    pairs = (ring.select(F.col("doc_id").alias("anchor_id"),
                         F.col("source").alias("a_source"),
                         "bucket", "rn", "bsize", offs.alias("off"))
             .withColumn("partner_rn",
                         (F.col("rn") - 1 + F.col("off")) % F.col("bsize") + 1))
    b = ring.select(F.col("bucket").alias("b_bucket"),
                    F.col("rn").alias("b_rn"),
                    F.col("doc_id").alias("negative_id"),
                    F.col("source").alias("b_source"))
    return (pairs.join(b, (F.col("bucket") == F.col("b_bucket"))
                       & (F.col("partner_rn") == F.col("b_rn")))
            .filter(F.col("negative_id") != F.col("anchor_id"))
            .select("anchor_id", F.col("off").alias("neg_no"), "negative_id",
                    (F.col("a_source") != F.col("b_source")).cast("int")
                    .alias("cross_source")))


# ---------------------------------------------------------------------------
# Round-12 registry swap: PII scrub + corpus admission under the oracle
# ---------------------------------------------------------------------------

#: Luhn-valid planted cards (the test-vector set) + one tampered check
#: digit. The valid card must be REDACTED, the tampered one must SURVIVE
#: — the precision/recall trade the Luhn gate exists for.
_PII_CARDS = ("4111111111111111", "4012888888881881",
              "5555555555554444", "378282246310005")
_PII_BAD_CARD = "4111111111111112"


def _pii_scrub_oracle() -> str:
    """The oracle builds the EXPECTED scrubbed string from first
    principles — the planted layout with each PII item replaced by its
    token — with zero regex beyond the alpha-prefix projection. Any
    over-match (scrubbing the tampered card or the alpha words), under-
    match (missing a planted item), or boundary slip (eating the
    delimiting spaces) breaks char-level equality on every row."""
    card = ("CASE CAST(doc_id % 4 AS INT) "
            f"WHEN 0 THEN '{_PII_CARDS[0]}' WHEN 1 THEN '{_PII_CARDS[1]}' "
            f"WHEN 2 THEN '{_PII_CARDS[2]}' ELSE '{_PII_CARDS[3]}' END")
    return f"""
SELECT doc_id,
       substring(regexp_replace(COALESCE(text, ''), '[^a-zA-Z ]', '', 'g'), 1, 40)
         || ' contact [EMAIL] ssn [SSN] ph [PHONE] ip [IPV4] card '
         || '[CREDIT_CARD] ref {_PII_BAD_CARD} end' AS scrubbed,
       CAST(1 AS INT) AS n_email, CAST(1 AS INT) AS n_ssn,
       CAST(1 AS INT) AS n_phone, CAST(1 AS INT) AS n_ipv4,
       CAST(2 AS INT) AS n_card_candidates,
       CAST(1 AS INT) AS n_cards_valid,
       {card} AS planted_card
FROM documents
"""


@query("docs_pii_scrub", _pii_scrub_oracle())
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/pii.py) under the driver oracle — the
    round-12 registry-swap graduation of the tier-2 scrubber (r11
    verdict #1). The raw patterns use Java lookarounds DuckDB's RE2
    cannot run, so the oracle controls the INPUT instead of replaying
    the regexes: every document gets a deterministic PII payload derived
    from doc_id — an email, an SSN, a NANP phone, an IPv4, one
    Luhn-VALID card (rotating through the reference vectors) and one
    Luhn-INVALID card — planted after a letters-only excerpt of the real
    document text. The Spark side runs the PRODUCTION scrubber
    (``scrub_pii``: candidate extraction, Catalyst-HOF Luhn fold,
    ordered category replacement) plus the ``pii_counts`` audit
    projection; the oracle constructs the expected redacted string
    directly. The tampered card surviving verbatim pins the Luhn gate;
    counts pin one-match-per-category with no cross-category bleed
    (phone vs SSN vs IPv4 boundary lookarounds).

    100 TB: pure whole-stage-codegen'd string expressions, zero shuffle,
    zero UDFs — scales like any projection. Fixture note: the real
    document text carries no PII patterns at any SF (verified r12), so
    the alpha excerpt is inert and the planted payload is the entire
    redaction surface."""
    from ..functions.pii import CARD_CANDIDATE, pii_counts, scrub_pii

    d = widen(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    s = lambda c: c.cast("string")  # noqa: E731
    did = F.col("doc_id")
    # COALESCE(text,'') on BOTH sides (round-13 ADVICE): the oracle emits
    # constant counts per row, so the planted payload must be total on
    # the fixture schema — a NULL-text doc would otherwise NULL the whole
    # concat on the Spark side while the oracle still counted 1s.
    alpha = F.substring(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")),
                         "[^a-zA-Z ]", ""), 1, 40)
    email = F.concat(F.lit("user"), s(did), F.lit("@example.com"))
    ssn = F.concat(s(did % 900 + 100), F.lit("-"),
                   F.lpad(s(did % 100), 2, "0"), F.lit("-"),
                   F.lpad(s(did % 10000), 4, "0"))
    phone = F.concat(F.lit("("), s(did % 700 + 200), F.lit(") 555-"),
                     F.lpad(s(did % 10000), 4, "0"))
    ip = F.concat(F.lit("10."), s(did % 100), F.lit("."),
                  s((did * 3) % 100), F.lit(".9"))
    card = (F.when(did % 4 == 0, _PII_CARDS[0])
             .when(did % 4 == 1, _PII_CARDS[1])
             .when(did % 4 == 2, _PII_CARDS[2])
             .otherwise(_PII_CARDS[3]))
    raw = F.concat(alpha, F.lit(" contact "), email, F.lit(" ssn "), ssn,
                   F.lit(" ph "), phone, F.lit(" ip "), ip,
                   F.lit(" card "), card,
                   F.lit(f" ref {_PII_BAD_CARD} end"))
    planted = d.select("doc_id", raw.alias("raw"), card.alias("planted_card"))
    pc = pii_counts(F.col("raw"))
    return planted.select(
        "doc_id", scrub_pii(F.col("raw")).alias("scrubbed"),
        pc.getField("email").alias("n_email"),
        pc.getField("ssn").alias("n_ssn"),
        pc.getField("phone").alias("n_phone"),
        pc.getField("ipv4").alias("n_ipv4"),
        F.size(F.regexp_extract_all("raw", F.lit(CARD_CANDIDATE), F.lit(0)))
         .alias("n_card_candidates"),
        pc.getField("credit_card").alias("n_cards_valid"),
        "planted_card")


_ADMIT_FP_SQL = md5_hash64_sql(NORMALIZE_TEXT_SQL.format(c="text"), seed=0)
_ADMIT_JAC_SQL = ("CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)"
                  " / (len(a.shs) + len(b.shs)"
                  " - len(list_intersect(a.shs, b.shs)))")


def _corpus_admissions_oracle() -> str:
    """Full SQL replay of the ``extend_corpus`` decision chain over the
    fixture split (corpus = doc_id %% 3 != 0, batch = the rest): quality
    gate -> batch exact dedup (fingerprint window, quality keeper) ->
    batch near dedup (minhash candidates, raw-jaccard >= 0.5 verify,
    fixed-6 min-label CC, quality keeper) -> corpus exact (fingerprint
    anti-join) -> corpus near (minhash over corpus ∪ survivors, cross
    pairs only — corpus stability). Two minhash instantiations ride the
    ``src``/``pfx`` parameterization of the registry's ``_mh_*`` SQL."""
    sets = (f"list_distinct(list_transform({_SHINGLES_SQL}, "
            f"s -> {md5_hash64_sql('s', seed=0)}))")
    chain = f"""WITH q AS (
  SELECT doc_id, text, text IS NOT NULL AS has_text,
         COALESCE(qs >= 0.2, FALSE) AS quality_ok, qs
  FROM (SELECT doc_id, text, {_QUALITY_SCORE_SQL} AS qs
        FROM (SELECT doc_id, text, {TOKENS_SQL.format(c='text')} AS toks
              FROM documents WHERE doc_id % 3 = 0))),
ek AS (
  SELECT q.*,
         (has_text AND quality_ok AND ROW_NUMBER() OVER (
            PARTITION BY CASE WHEN has_text AND quality_ok
                              THEN {_ADMIT_FP_SQL} ELSE doc_id END
            ORDER BY qs DESC NULLS LAST, doc_id) = 1) AS exact_keep
  FROM q),
docs AS (SELECT doc_id, {sets} AS shs FROM ek WHERE exact_keep),
{_minhash_sql().strip().rstrip(',').rstrip()},
pairs AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN docs a ON c.doc_a = a.doc_id
              JOIN docs b ON c.doc_b = b.doc_id
  WHERE {_ADMIT_JAC_SQL} >= 0.5)"""
    return min_label_sql(chain, iters=6) + f""",
nk AS (
  SELECT e.*,
         (e.exact_keep AND ROW_NUMBER() OVER (
            PARTITION BY CASE WHEN e.exact_keep
                              THEN COALESCE(l.label, e.doc_id)
                              ELSE e.doc_id END
            ORDER BY e.qs DESC NULLS LAST, e.doc_id) = 1) AS near_keep
  FROM ek e LEFT JOIN l6 l ON e.doc_id = l.id),
cfp AS (SELECT DISTINCT {_ADMIT_FP_SQL} AS fp
        FROM documents WHERE doc_id % 3 <> 0),
ae AS (SELECT n.doc_id FROM nk n
       ANTI JOIN cfp ON cfp.fp = {_ADMIT_FP_SQL.replace("(text", "(n.text")}
       WHERE n.near_keep),
c_docs AS (
  SELECT doc_id, {sets} AS shs
  FROM documents WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT d.doc_id, d.shs FROM docs d JOIN ae ON d.doc_id = ae.doc_id),
{_minhash_sql(src='c_docs', pfx='c_').strip().rstrip(',').rstrip()},
cross_dup AS (
  SELECT DISTINCT CASE WHEN a.doc_id % 3 = 0 THEN a.doc_id
                       ELSE b.doc_id END AS doc_id
  FROM c_cand c JOIN c_docs a ON c.doc_a = a.doc_id
                JOIN c_docs b ON c.doc_b = b.doc_id
  WHERE (a.doc_id % 3 = 0) <> (b.doc_id % 3 = 0)
    AND {_ADMIT_JAC_SQL} >= 0.5),
adm AS (SELECT a.doc_id FROM ae a
        ANTI JOIN cross_dup cd ON a.doc_id = cd.doc_id)
SELECT n.doc_id, n.has_text, n.quality_ok, n.exact_keep, n.near_keep,
       (n.near_keep AND adm.doc_id IS NOT NULL) AS corpus_keep,
       n.qs AS quality_score
FROM nk n LEFT JOIN adm ON n.doc_id = adm.doc_id
"""


@query("corpus_extend_admissions", _corpus_admissions_oracle())
def corpus_extend_admissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus admission (pipelines/corpus.py::extend_corpus)
    under the driver oracle — the round-12 registry-swap graduation of
    the last daily-use tier-2 component (r11 verdict #1). The fixture
    corpus is documents with doc_id % 3 != 0; the arriving batch is the
    rest PLUS an already-ingested slice (doc_id % 5 == 1) that the
    id-identity replay skip must drop up front — its absence from the
    output is the skip's driver check. Every per-doc stage decision is
    emitted as the audit flags (has_text / quality_ok / exact_keep /
    near_keep / corpus_keep) plus the raw quality score, and the oracle
    replays the ENTIRE decision chain in SQL — quality gate, fingerprint
    exact dedup with the quality-keeper window, capped-LSH near dedup
    with fixed-6 min-label clustering, then the corpus-stability exact
    and near tiers over corpus ∪ survivors.

    Fixture note: corpus text enters ``extend_corpus`` pre-scrubbed by
    contract; the oracle reads raw fixture text, valid because
    ``scrub_pii`` is the identity on the fixture corpus (no PII
    patterns at any SF — verified r12; ``docs_pii_scrub`` covers the
    scrubber itself on planted payloads).

    100 TB: the decision chain is the already-plan-audited corpus
    pipeline — equi-join candidate generation everywhere, the LSH
    bucket cap bounding pair output, broadcast hot-lists, bounded CC.
    The audit relation is one wide per-doc frame (flags, not
    materialized stage tables), localCheckpoint'd here because the
    registry returns a small decision table while the pipeline's
    internal persists are released before return."""
    from ..pipelines.corpus import extend_corpus

    d = (widen(load_table(spark, sf_dir, "documents"))
         .select("doc_id", "text", "source", "lang"))
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    batch = d.filter((F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 5 == 1))
    # ALL THREE corpus-side state hooks from the session's memoized
    # projections (the state-reuse shape extend_corpus documents; round
    # 13 added bands + fps — previously only sets): the fixture corpus is
    # raw documents rows, so each shared relation ⋉ corpus ids IS the
    # relation the default path recomputes — same expression, same
    # persisted copy every dedup query shares; with all three the corpus
    # TEXT column is never read in the corpus tier.
    cids = corpus.select("doc_id")
    csets = _shared_shingle_sets(spark, sf_dir).join(cids, "doc_id",
                                                     "left_semi")
    cbands = _mh_bands(_shared_mh_signatures(spark, sf_dir).join(
        cids, "doc_id", "left_semi"))
    cfps = _shared_doc_fps(spark, sf_dir).join(cids, "doc_id",
                                               "left_semi").select("fp")
    res = extend_corpus(corpus, batch, corpus_sets=csets,
                        corpus_bands=cbands, corpus_fps=cfps)
    out = (res.audit.select(
        "doc_id", "has_text", "quality_ok", "exact_keep", "near_keep",
        "corpus_keep", F.col("q").alias("quality_score"))
        .localCheckpoint(eager=True))
    res.unpersist()
    return out


# ---------------------------------------------------------------------------
# Round-13 registry swap: FK-closed subsetting + sketch drift under the oracle
# (r12 verdict #4 — the last two deterministic, oracle-renderable tier-2
# components graduate; the retired pair is recorded in contract/__init__.py)
# ---------------------------------------------------------------------------

#: (child, child_col, parent, parent_col) edges of the TPC-H-ish star —
#: the same graph the subset tests exercise, including the nation
#: diamond (customer AND supplier both reference nation) that naive
#: per-edge closure orphans.
_SUBSET_FKS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]
_SUBSET_FRACTION = 0.2
_SUBSET_SEED = 42
_SUBSET_CK_SEED = 11
#: (table, checksum-key expression) — lineitem's composite PK renders as
#: one string on both engines.
_SUBSET_PKS = [
    ("region", "r_regionkey"), ("nation", "n_nationkey"),
    ("customer", "c_custkey"), ("supplier", "s_suppkey"),
    ("part", "p_partkey"), ("orders", "o_orderkey"),
    ("lineitem", None),  # composite, handled inline
]


def _subset_closure_oracle() -> str:
    """Full SQL replay of the subset_star closure: anchor bucket filter
    (shared md5_hash64, positive so %% == pmod), downward semi-joins in
    topological order, upward union-of-referenced-keys — including the
    nation diamond (customer ∪ supplier). One (tbl, n_rows, key_ck) row
    per table; bit_xor of the keyed hash is order-independent and
    overflow-free on both engines."""
    bucket = md5_hash64_sql("CAST(o_orderkey AS VARCHAR)",
                            seed=_SUBSET_SEED)
    cut = int(round(_SUBSET_FRACTION * 10_000))

    def ck(expr):
        return f"bit_xor({md5_hash64_sql(expr, seed=_SUBSET_CK_SEED)})"

    rows = []
    for tbl, pk in _SUBSET_PKS:
        alias = {"region": "r", "nation": "n", "customer": "c",
                 "supplier": "s", "part": "p", "orders": "o",
                 "lineitem": "li"}[tbl]
        key = (f"CAST(l_orderkey AS VARCHAR) || ':' || "
               f"CAST(l_linenumber AS VARCHAR)" if pk is None
               else f"CAST({pk} AS VARCHAR)")
        rows.append(f"SELECT '{tbl}' AS tbl, COUNT(*) AS n_rows, "
                    f"{ck(key)} AS key_ck FROM {alias}")
    return f"""
WITH o AS (SELECT * FROM orders WHERE {bucket} % 10000 < {cut}),
li AS (SELECT lineitem.* FROM lineitem
       SEMI JOIN o ON lineitem.l_orderkey = o.o_orderkey),
c AS (SELECT customer.* FROM customer
      SEMI JOIN o ON customer.c_custkey = o.o_custkey),
p AS (SELECT part.* FROM part
      SEMI JOIN li ON part.p_partkey = li.l_partkey),
s AS (SELECT supplier.* FROM supplier
      SEMI JOIN li ON supplier.s_suppkey = li.l_suppkey),
n AS (SELECT * FROM nation
      WHERE n_nationkey IN (SELECT c_nationkey FROM c)
         OR n_nationkey IN (SELECT s_nationkey FROM s)),
r AS (SELECT region.* FROM region
      SEMI JOIN n ON region.r_regionkey = n.n_regionkey)
{" UNION ALL ".join(rows)}
"""


@query("subset_star_closure", _subset_closure_oracle())
def subset_star_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-consistent star subsetting (operators/subset.py::subset_star)
    under the driver oracle — the round-13 graduation of the tier-2
    subsetting tool (r12 verdict #4). The operator anchors on 20% of
    orders (shared cross-engine md5_hash64 bucket — round 13 switched
    the bucket hash from Spark-private xxhash64 exactly so this replay
    is possible), closes DOWNWARD (lineitem follows kept orders, both
    parents applied in topological order) and UPWARD (customer keeps
    orders' referenced keys; part/supplier keep lineitem's; nation keeps
    customer ∪ supplier — the diamond; region keeps nation's). The
    emitted relation is one (tbl, n_rows, key_ck) row per table, where
    key_ck is the bit_xor of the seeded key hash over the SUBSET's
    primary keys — any orphaned or extra row in any table breaks count
    or checksum; the oracle replays the entire closure in SQL.

    100 TB: every edge is a semi-join on a key (broadcast-able kept-key
    sides for dimension-sized parents, shuffle semi-joins for facts);
    no window, no text, no driver state. The subset decision is pure
    hash arithmetic, so the same call yields the same subset on any
    cluster — the reproducibility contract dev/CI subsetting needs."""
    from ..operators.subset import FK, subset_star

    tables = {t: load_table(spark, sf_dir, t)
              for t in ["region", "nation", "customer", "supplier",
                        "part", "orders", "lineitem"]}
    sub = subset_star(tables, "orders", "o_orderkey",
                      [FK(*e) for e in _SUBSET_FKS],
                      fraction=_SUBSET_FRACTION, seed=_SUBSET_SEED)
    # eager persists on the two subset frames every other branch's
    # lineage references (orders: anchor of everything; lineitem: the
    # fact feeding part/supplier/nation/region) — the 7 union branches
    # materialize concurrently under AQE and would otherwise re-run the
    # anchor filter + fact semi-join up to 5x (see _mh_signatures)
    for hot in ("orders", "lineitem"):
        sub[hot] = sub[hot].persist()
        sub[hot].count()

    def ck_row(tbl, pk):
        key = (F.concat(F.col("l_orderkey").cast("string"), F.lit(":"),
                        F.col("l_linenumber").cast("string"))
               if pk is None else F.col(pk).cast("string"))
        return sub[tbl].agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(md5_hash64(key, seed=_SUBSET_CK_SEED))
             .alias("key_ck")).select("tbl", "n_rows", "key_ck")

    out = None
    for tbl, pk in _SUBSET_PKS:
        row = ck_row(tbl, pk)
        out = row if out is None else out.unionByName(row)
    return out


def _sketch_drift_oracle() -> str:
    """Exact replay of the drift REPORT GRAIN plus literal TRUE for the
    sketch-accuracy booleans (the star_pricing_p95_approx rank-bound
    discipline): per (event_type, day) cells that have a COMPLETE
    7-distinct-prior-day trailing window, the exact row count and
    baseline_days; the Spark side must earn within_day/within_base by
    rank-checking its sketch quantiles against the raw data."""
    return """
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_rows
  FROM events GROUP BY 1, 2),
complete AS (
  SELECT c.event_type, c.day, c.n_rows,
         (SELECT COUNT(DISTINCT h.day) FROM cells h
          WHERE h.event_type = c.event_type
            AND h.day >= c.day - INTERVAL 7 DAY AND h.day < c.day)
           AS prior_days
  FROM cells c)
SELECT event_type, day, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(7 AS BIGINT) AS baseline_days,
       TRUE AS within_day, TRUE AS within_base
FROM complete WHERE prior_days = 7
"""


@query("events_sketch_drift", _sketch_drift_oracle())
def events_sketch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring from the mergeable-sketch partition
    table (operators/sketches.py::sketch_drift) under the driver oracle —
    the round-13 graduation of the last tier-2 sketch component (r12
    verdict #4). The pipeline: per-(event_type, day) KLL partitions over
    `value` (build_sketch_partitions), then the drift report — each
    day's median vs the merged trailing-7-day baseline sketch, emitted
    only for complete windows. The oracle pins the REPORT GRAIN exactly
    (which cells qualify, their raw row counts, baseline_days == 7);
    the sketch quantiles themselves are run-varying by design (KLL
    compaction is randomized, no seed exposed), so they ride the
    star_pricing_p95_approx rank-bound discipline: Spark joins the
    (tiny) drift report back over raw events and asserts each quantile's
    rank interval overlaps [floor((p-eps)n), ceil((p+eps)n)] with eps =
    4x the published 99%-confidence KLL bound (~10 sigma — see the
    flake-odds triage note on star_pricing_p95_approx, same contract).

    100 TB: the drift query itself touches ZERO raw rows — sketch-grain
    x window_days joins over a KB-sized state table; only this driver
    row's VERIFICATION pass rescans events (twice, broadcast-joined
    against the ~100-row report), which is the price of oracle-checking
    a randomized sketch, not part of the production plan."""
    from ..operators.sketches import (build_sketch_partitions,
                                      kll_rank_error, sketch_drift)

    kll_k = 2048
    eps = 4.0 * kll_rank_error(kll_k)
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type", F.to_date("ts").alias("day"), "value"))
    sk = build_sketch_partitions(ev, ["event_type", "day"], ["value"],
                                 kll_k=kll_k)
    # eager checkpoint of the ~grain-sized report (round 17): the drift
    # relation is referenced THREE times below (both rank-verification
    # broadcasts + the final report grain), and each reference re-ran
    # the whole sketch build over events (plan: 8 parquet scans -> 4).
    # Also a correctness-coherence win: KLL compaction is randomized,
    # so un-checkpointed siblings could materialize three different
    # quantile draws — the checkpoint pins ONE draw for the whole run.
    drift = sketch_drift(sk, ["event_type"], "day", "value",
                         prob=0.5, window_days=7).localCheckpoint(eager=True)
    rep = F.broadcast(drift.select(
        "event_type", "day", "day_q", "baseline_q",
        "n_rows", "baseline_days"))

    def bound_ok(lt, le, n):
        lo = F.floor((F.lit(0.5) - eps) * n)
        hi = F.ceil((F.lit(0.5) + eps) * n)
        return (F.col(le) >= lo) & (F.col(lt) + 1 <= hi)

    # rank against NON-NULL values only (round 14, from ADVICE):
    # kll_sketch_agg_double ignores NULLs, so the sketch median's rank
    # lives in the non-null distribution — lt/le sums already skip
    # NULLs but n must be the non-null count too, or any NULL values
    # in the fixture deflate the median's relative rank below lo.
    # n_rows in the REPORT grain stays COUNT(*) (matches the oracle).
    evnn = ev.filter(F.col("value").isNotNull())
    day_ranks = (evnn.join(rep, ["event_type", "day"])
                 .groupBy("event_type", "day")
                 .agg(F.sum((F.col("value") < F.col("day_q"))
                            .cast("long")).alias("lt"),
                      F.sum((F.col("value") <= F.col("day_q"))
                            .cast("long")).alias("le"),
                      F.count(F.lit(1)).alias("n"))
                 .select("event_type", "day",
                         bound_ok("lt", "le", F.col("n"))
                         .alias("within_day")))
    hist = evnn.select(F.col("event_type").alias("h_type"),
                       F.col("day").alias("h_day"), "value")
    repb = F.broadcast(drift.select(
        F.col("event_type").alias("r_type"), F.col("day").alias("r_day"),
        "baseline_q"))
    base_ranks = (hist.join(repb, (F.col("h_type") == F.col("r_type"))
                            & (F.col("h_day") >= F.date_sub("r_day", 7))
                            & (F.col("h_day") < F.col("r_day")))
                  .groupBy("r_type", "r_day")
                  .agg(F.sum((F.col("value") < F.col("baseline_q"))
                             .cast("long")).alias("lt"),
                       F.sum((F.col("value") <= F.col("baseline_q"))
                             .cast("long")).alias("le"),
                       F.count(F.lit(1)).alias("n"))
                  .select(F.col("r_type").alias("event_type"),
                          F.col("r_day").alias("day"),
                          bound_ok("lt", "le", F.col("n"))
                          .alias("within_base")))
    # LEFT join back onto the drift grain (round 15, from ADVICE): a
    # cell whose day (or whole 7-day baseline window) holds only NULL
    # values has no evnn group at all, and an inner join would silently
    # drop it from the report — diverging from the oracle's COUNT(*)
    # grain. An absent rank row means the non-null distribution is
    # empty, so there is no rank for the sketch median to violate:
    # trivially within-bounds.
    return (drift.select("event_type", "day", "n_rows", "baseline_days")
            .join(day_ranks, ["event_type", "day"], "left")
            .join(base_ranks, ["event_type", "day"], "left")
            .select("event_type", "day", "n_rows", "baseline_days",
                    F.coalesce("within_day", F.lit(True))
                    .alias("within_day"),
                    F.coalesce("within_base", F.lit(True))
                    .alias("within_base")))
