"""Corpus-curation plans (north-star LLM-data extension, second
wave): within-document repetition signals, train/test contamination
detection, and deterministic sampling. These are the operations a
training-data pipeline runs after dedup/quality (plans/llmdata.py)
and before export — all pure built-in expressions (whole-stage
codegen; the shingle explode is the one shuffle-adjacent step and is
repartitioned across cores first, see operators/dedup.doc_shingles).

Determinism rules: repetition ratios are one int/int division
(bitwise identical in any IEEE engine, see operators/text.py
avg_token_len note); sampling uses the multiplicative-hash bucket of
plans/relational.q_deterministic_split — same row → same decision on
every engine, every run, any partitioning (rand() has none of those
properties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.dedup import _shingle_expr, doc_shingles
from .relational import split_bucket, split_bucket_sql

# DuckDB list-comprehension shingle builder (k-gram over a 1-indexed
# token list) — the oracle twin of operators/dedup._shingle_expr.
def _sql_kgrams(k: int) -> str:
    return (
        f"CASE WHEN len(toks) < {k} THEN [] "
        f"ELSE [array_to_string(toks[i:i+{k - 1}], ' ') "
        f"for i in generate_series(1, len(toks) - {k - 1})] END"
    )


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-style quality signal)
# ---------------------------------------------------------------------------


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-trigram fraction per document — the "repetition"
    quality signal used to drop degenerate/boilerplate docs. Trigram
    list, distinct count, ratio — all per-row higher-order
    expressions; _spread adds one repartition ONLY when the scan is
    under-parallel (the single-file small-SF case), so the CPU-heavy
    trigram build uses every core; at 100 TB the scan itself is
    thousands of splits and no exchange is added."""
    from ..operators.dedup import _spread

    docs = _spread(load(spark, sf_dir, "documents"))
    # staged projections: the split lands in a named column before the
    # shingle transform (a raw split() referenced from inside the
    # lambda re-evaluates per element — no CSE across the lambda
    # boundary), and the ratio references the counts BY NAME so the
    # trigram build is not re-expanded inside the when/divide
    toked = docs.select("doc_id", "lang", F.split("text", " ").alias("_toks"))
    tris = _shingle_expr(F.col("_toks"), 3)
    mid = toked.select(
        "doc_id",
        "lang",
        F.size(tris).cast("long").alias("n_trigrams"),
        F.size(F.array_distinct(tris)).cast("long").alias("n_distinct"),
    )
    rep = F.when(F.col("n_trigrams") == 0, F.lit(0.0)).otherwise(
        (F.col("n_trigrams") - F.col("n_distinct")).cast("double")
        / F.col("n_trigrams")
    )
    return mid.select(
        "doc_id", "lang", "n_trigrams", "n_distinct", rep.alias("rep_ratio")
    )


_DOC_REPETITION_SQL = f"""
WITH tok AS (SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents),
tri AS (SELECT doc_id, lang, {_sql_kgrams(3)} AS tris FROM tok)
SELECT doc_id, lang,
  len(tris) AS n_trigrams,
  len(list_distinct(tris)) AS n_distinct,
  CASE WHEN len(tris) = 0 THEN 0.0
       ELSE CAST(len(tris) - len(list_distinct(tris)) AS DOUBLE) / len(tris)
  END AS rep_ratio
FROM tri
"""


# ---------------------------------------------------------------------------
# Train/test contamination
# ---------------------------------------------------------------------------


_CONTAM_MAX_DF = 100


def _contamination_shingle_counts(spark: SparkSession, sf_dir: str):
    """THE shared shingle/split/count definition for the contamination
    query and its cap profile — one node, so the alarm metric can
    never drift from what the query actually caps (r13 review: the
    profile previously re-built this pipeline by copy, re-opening the
    dual-read-out divergence class r12 verdict #5 retired). Returns
    (sh, sizes): ``sh`` = each document's distinct 5-grams restricted
    to the train (bucket < 80) / test (>= 90) bands with the `_b`
    bucket column — the middle band feeds neither list, so dropping
    it before any shuffle changes nothing; ``sizes`` = per-shingle
    conditional split counts (_ntr, _nte), value-identical to
    size(tr)/size(te) of the collect_list form. Both results are lazy
    nodes — callers that use only one pay only for that one."""
    docs = load(spark, sf_dir, "documents")
    sh = doc_shingles(docs, k=5)
    bucket = split_bucket(F.col("doc_id"), 100)
    sh = sh.withColumn("_b", bucket).filter(
        (F.col("_b") < 80) | (F.col("_b") >= 90)
    )
    sizes = sh.groupBy("shingle").agg(
        F.count_if(F.col("_b") < 80).alias("_ntr"),
        F.count_if(F.col("_b") >= 90).alias("_nte"),
    )
    return sh, sizes


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: test-split documents sharing any
    5-gram with the train split (split = the deterministic hash split
    of rel_deterministic_split, so both engines agree on membership).
    Shuffle profile: one exchange on the shingle key for the
    train⋈test join, then a hash-agg on test doc_id. Shingles whose
    per-split document frequency exceeds _CONTAM_MAX_DF are dropped
    (the stop-shingle guard of ngram_jaccard_pairs): a 5-gram shared
    by most train docs would otherwise collect an unbounded `tr` list
    on one reducer and replicate it across every test hit. The oracle
    applies the identical cap.

    Cap-truncation visibility lives in contamination_cap_profile — a
    direct 1-row aggregate over the same per-split counts, the one
    read-out path at every sf (r12 verdict #5 retired the
    riding-Observation read-out, whose diamond broke Observation.get
    at sf3+). The soak harness reads cross_shingles / capped_shingles
    / n_instances / capped_instances from it and alarms past the
    documented SCALING.md threshold, the same discipline as the LSH
    bucket-saturation counters.

    r12: at/above the shared presize switch (~20k docs, the
    llmdata.ngram_lsh_scale predicate also used by the minhash/simhash
    faces) the cap is applied BEFORE the per-split lists materialize —
    the r12 curation soak caught this face repeating the minhash
    cap-then-collect cliff (a closed-vocabulary shingle's tr/te lists
    grow linearly with the corpus and were built in full in one
    aggregation buffer before the size filter discarded them; sf10
    read 57.3 s with a 1.44 exponent step). A map-side-combined
    conditional-count agg sizes both splits per shingle (only
    (shingle, 2 counts) partials shuffle), the surviving shingle set
    — cross-split AND under-cap on both sides — pre-filters the
    shingle stream through a SHUFFLE_HASH join, and only then do the
    bounded lists collect (≤ _CONTAM_MAX_DF each by construction).
    Below the switch the r11 single-shuffle collect-then-filter shape
    stays (the sizing pass is pure overhead there). The oracle is
    identical on both routes — same surviving shingles, same output
    (parity pinned in tests/test_llmdata.py). Both routes drop the
    middle 80-90 bucket band before the shuffle (those rows feed
    neither list)."""
    from .llmdata import ngram_lsh_scale

    sh, sizes = _contamination_shingle_counts(spark, sf_dir)
    tr_of = F.collect_list(F.when(F.col("_b") < 80, F.col("doc_id"))).alias("tr")
    te_of = F.collect_list(F.when(F.col("_b") >= 90, F.col("doc_id"))).alias("te")
    if ngram_lsh_scale(sf_dir):
        kept = sizes.filter(
            (F.col("_ntr") >= 1) & (F.col("_ntr") <= _CONTAM_MAX_DF)
            & (F.col("_nte") >= 1) & (F.col("_nte") <= _CONTAM_MAX_DF)
        ).select("shingle")
        # UNLIKE dedup._capped_bucket_lists, the join strategy is left
        # to AQE here: on a saturated closed vocabulary the under-cap
        # cross-split shingle set is SMALL (the cap excludes every hot
        # shingle), so AQE broadcasts `kept` and the full shingle
        # stream crosses NO exchange — only the surviving rows shuffle
        # into the bounded collect. (A SHUFFLE_HASH hint here forced
        # the whole 144M-row sf30 stream through the join exchange and
        # measured SLOWER than the r11 collect-then-filter shape,
        # 165.8 vs 141.3 s; the minhash case differs because its kept
        # bucket set is large and its payloads dominate.) Aggregation
        # buffers stay bounded at 2·_CONTAM_MAX_DF ids either way.
        grp = sh.join(kept, "shingle").groupBy("shingle").agg(tr_of, te_of)
    else:
        grp = sh.groupBy("shingle").agg(tr_of, te_of)
        grp = grp.filter(
            (F.size("te") > 0)
            & (F.size("tr") > 0)
            & (F.size("tr") <= _CONTAM_MAX_DF)
            & (F.size("te") <= _CONTAM_MAX_DF)
        )
    hits = F.flatten(
        F.transform(
            F.col("te"),
            lambda t: F.transform(
                F.col("tr"),
                lambda r: F.struct(t.alias("doc_id"), r.alias("train_id")),
            ),
        )
    )
    return (
        grp.select("shingle", F.explode(hits).alias("p"))
        .select("shingle", "p.doc_id", "p.train_id")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("train_id").alias("n_train_docs"),
        )
    )


def contamination_cap_profile(spark: SparkSession, sf_dir: str) -> dict:
    """Truncation counters of the contamination stop-shingle cap as a
    direct 1-row aggregate — the one read-out path at every sf (r12
    verdict #5; twin of dedup.ngram_cap_profile). Counters cover
    CROSS-SPLIT shingles only (others never reach the output
    regardless of the cap) over the LITERAL shared node
    (_contamination_shingle_counts) q_contamination filters — not a
    parallel copy, so the definitions cannot drift (r13 review); the
    counts are value-identical to size(tr)/size(te) of the list form
    (route parity was pinned while both read-outs existed; the
    sf0.01/sf0.1 literals are pinned in tests/test_llmdata.py)."""
    _sh, sizes = _contamination_shingle_counts(spark, sf_dir)
    cross = (F.col("_nte") > 0) & (F.col("_ntr") > 0)
    over = (F.col("_ntr") > _CONTAM_MAX_DF) | (F.col("_nte") > _CONTAM_MAX_DF)
    inst = F.col("_ntr") + F.col("_nte")
    row = sizes.agg(
        F.count_if(cross).alias("cross_shingles"),
        F.count_if(cross & over).alias("capped_shingles"),
        F.sum(F.when(cross, inst).otherwise(F.lit(0))).alias("n_instances"),
        F.sum(F.when(cross & over, inst).otherwise(F.lit(0))).alias(
            "capped_instances"
        ),
    ).first()
    return {k_: int(row[k_] or 0) for k_ in row.asDict()}


_CONTAMINATION_SQL = f"""
WITH tok AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({_sql_kgrams(5)})) AS shingle FROM tok
),
tr AS (SELECT doc_id AS train_id, shingle FROM sh
       WHERE {split_bucket_sql('doc_id', 100)} < 80),
te AS (SELECT doc_id, shingle FROM sh
       WHERE {split_bucket_sql('doc_id', 100)} >= 90),
ok AS (
  SELECT shingle FROM tr GROUP BY shingle HAVING count(*) <= {_CONTAM_MAX_DF}
  INTERSECT
  SELECT shingle FROM te GROUP BY shingle HAVING count(*) <= {_CONTAM_MAX_DF}
)
SELECT te.doc_id,
  CAST(count(DISTINCT te.shingle) AS BIGINT) AS n_shared_ngrams,
  CAST(count(DISTINCT tr.train_id) AS BIGINT) AS n_train_docs
FROM te JOIN tr USING (shingle) JOIN ok USING (shingle)
GROUP BY te.doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample by key hash — reproducible (same rows on
    every engine/run/partitioning) unlike df.sample(). Pure filter:
    pushes to the scan, no shuffle, trivially parallel at any scale."""
    docs = load(spark, sf_dir, "documents")
    bucket = split_bucket(F.col("doc_id"), 1000)
    return docs.filter(bucket < 100).select("doc_id", "lang", "source")


_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {split_bucket_sql('doc_id', 1000)} < 100
"""


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic sample per source (domain capping for
    training mixes): rank rows within each source by hashed id and
    keep the first 5. One shuffle on the partition key; per-group
    state in the window is a running counter only."""
    docs = load(spark, sf_dir, "documents")
    hash_order = split_bucket(F.col("doc_id"), 100000)
    w = Window.partitionBy("source").orderBy(hash_order.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", F.col("rn").cast("long").alias("rn"))
    )


_PER_SOURCE_CAP_SQL = f"""
SELECT source, doc_id, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT source, doc_id,
    row_number() OVER (
      PARTITION BY source
      ORDER BY {split_bucket_sql('doc_id', 100000)}, doc_id
    ) AS rn
  FROM documents
)
WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# Normalization and vocabulary statistics
# ---------------------------------------------------------------------------


def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization before hashing/dedup: lowercase,
    strip non-alphanumerics, collapse runs of spaces, trim. Pure
    regexp_replace chain — scan-side projection, no shuffle; the
    patterns are POSIX-class-only so Java regex and RE2 agree."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).alias("n_norm_chars"),
        F.md5(norm).alias("norm_hash"),
    )


_NORMALIZE_SQL = """
WITH n AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
  CAST(length(norm_text) AS BIGINT) AS n_norm_chars,
  md5(norm_text) AS norm_hash
FROM n
"""


def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-50 tokens by frequency with
    document frequency — the input to stopword lists and quality
    filters. Explode → two-level agg; the token shuffle carries
    (token, doc_id) pairs already deduped map-side by array_distinct
    for the df leg. Top-k via TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("term_freq"), F.asc("tok"))
        .limit(50)
    )


_TOKEN_FREQ_SQL = """
SELECT tok, count(*) AS term_freq,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY term_freq DESC, tok ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Relevance / rarity scoring and PII scrubbing
# ---------------------------------------------------------------------------


# tfidf df-broadcast route (r12 verdict #6 / ADVICE: the broadcast
# hint on the document-frequency table was unconditional — correct on
# every soak corpus, but a genuinely open vocabulary (≫10^7 distinct
# tokens) would overflow the driver. Resolve the route from parquet
# FOOTERS like every other size switch: Heaps-law vocabulary estimate
# V ≈ K·N^β from the text column's uncompressed byte volume
# (N ≈ bytes/5 tokens; K=30, β=0.55 — mid-range English constants,
# which keep the measured sf30 win: 1.25e8 tokens → V̂ ≈ 8.6e5 ≪ the
# bound — while a web-scale corpus, N ≥ 1e12 → V̂ ≥ 1.3e8, drops the
# hint and leans on the AQE skew-split the docstring promises).
# 5e6 terms ≈ 150 MB broadcast is the practical driver ceiling.
_TFIDF_MAX_BROADCAST_VOCAB = 5_000_000
_HEAPS_K, _HEAPS_BETA = 30.0, 0.55


def estimated_vocab(sf_dir: str) -> int:
    """Heaps-law vocabulary upper estimate for documents.text, from
    parquet footers only (no Spark job)."""
    from ..catalog import table_column_bytes_metadata

    n_tokens = max(1, table_column_bytes_metadata(sf_dir, "documents", "text") // 5)
    return int(_HEAPS_K * n_tokens**_HEAPS_BETA)


def q_tfidf(
    spark: SparkSession,
    sf_dir: str,
    top_k: int = 3,
    df_broadcast: bool | None = None,
) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic relevance /
    keyword signal for corpus curation. Document frequency is a
    groupBy aggregate of the tf stream joined back on term, with tf
    materialized once (lazy localCheckpoint, the repo's diamond
    pattern) so the text column is scanned and exploded exactly once.
    A count() window over tf would avoid the diamond but forces every
    row of a hot Zipf term into a single sorted task — a straggler at
    100 TB — whereas the groupBy df leg gets map-side partials and the
    join back is AQE-skew-splittable. The corpus size joins in as a
    broadcast 1-row aggregate, never a collected literal.

    Cross-engine float discipline: ln() is libm (last-ulp differences
    between JVM and C), so the rank orders by the 6-dp ROUNDED score —
    a rounding-boundary straddle would need the transcendental score
    within one ulp of a multiple of 1e-6 — with the term as an exact
    tiebreak; the projection carries the same rounded value."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Diamond: tf feeds both the df aggregate and the scored join.
    # Without the checkpoint Spark re-runs the scan+explode per branch.
    tf = tf.localCheckpoint(eager=False)
    # r12: the df table is Heaps-law sized (vocabulary, not corpus —
    # ~10^6-10^7 terms even at web scale) and the tf⋈dfreq key is
    # Zipf-skewed, so broadcasting it beats any shuffled join: the
    # 46M-row sf30 tf stream crosses no exchange for the join at all
    # (measured 12.9 → 8.8 s at sf30 under the 8×-cores partition
    # posture). r13: the hint is now ROUTED, not assumed — a corpus
    # whose footer-estimated vocabulary exceeds the driver's broadcast
    # range drops the hint and leans on the AQE-chosen join + skew
    # split (_TFIDF_MAX_BROADCAST_VOCAB above; route parity pinned in
    # tests/test_scale_guards.py::test_tfidf_broadcast_routes_agree).
    if df_broadcast is None:
        df_broadcast = estimated_vocab(sf_dir) <= _TFIDF_MAX_BROADCAST_VOCAB
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if df_broadcast:
        dfreq = F.broadcast(dfreq)
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


_TFIDF_SQL = """
WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
    round(tf * ln(n_docs / df::DOUBLE), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf,
  CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
  ) AS rnk
  FROM scored
)
WHERE rnk <= 3
"""


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-rarity profile: join each token occurrence to
    its corpus frequency, aggregate exact integers per doc (sum / min),
    one final division for the mean. Everything before the division is
    BIGINT — partitioning-invariant, no float accumulation — so the
    result is bitwise stable across engines and cluster layouts.

    Scale shape: the token→frequency join key is Zipf-skewed (stop
    tokens), but the frequency side is vocab-sized, so stats/AQE
    broadcast it and the skew never reaches a shuffle; the per-doc agg
    keys are unskewed."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    gfreq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("gcnt"))
    return (
        tok.join(gfreq, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("gcnt").alias("sum_freq"),
            F.min("gcnt").alias("rarest_freq"),
        )
        # exact integer 1e-6 scale instead of a raw double division —
        # the one float in this query hash-failed in the driver's
        # oracle env (CORRECTNESS_r02); all-BIGINT output is
        # engine-independent by construction
        .withColumn("mean_freq_e6", F.expr("(sum_freq * 1000000) div n_tokens"))
    )


_TOKEN_RARITY_SQL = """
WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
gfreq AS (SELECT term, count(*) AS gcnt FROM tok GROUP BY term)
SELECT doc_id,
  count(*) AS n_tokens,
  CAST(sum(gcnt) AS BIGINT) AS sum_freq,
  min(gcnt) AS rarest_freq,
  CAST((sum(gcnt) * 1000000) // count(*) AS BIGINT) AS mean_freq_e6
FROM tok JOIN gfreq USING (term)
GROUP BY doc_id
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: per-class match counts + md5 of the
    redacted text. This synthetic corpus contains no PII, so every
    count is 0 and the hash equals md5(text) — the oracle still pins
    the full expression chain (four Java-vs-RE2 regexes, replacement
    order, placeholder tokens) cross-engine; the behavioral check on
    PLANTED pii lives in tests/test_llmdata.py. Pure projection: no
    shuffle, rides the scan."""
    from ..operators.text import pii_counts, redact_pii

    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        *pii_counts(t),
        F.md5(redact_pii(t)).alias("redacted_hash"),
    )


def _pii_sql() -> str:
    from ..operators.text import PII_PATTERNS

    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    red = "text"
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<pii:{name}>', 'g')"
    return f"SELECT doc_id,\n  {counts},\n  md5({red}) AS redacted_hash\nFROM documents"


# ---------------------------------------------------------------------------
# Cross-document repetition and unigram LM scoring
# ---------------------------------------------------------------------------


_DUP_CHUNK_K = 8


def q_dup_chunk_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-chunk fraction per document: the share of a doc's
    distinct 8-grams that also occur in at least one OTHER document —
    the inter-document complement of q_doc_repetition's within-doc
    signal (Gopher/RefinedWeb drop docs whose text is mostly shared
    boilerplate).

    Scale shape — this is deliberately NOT the naive
    sh ⋈ dfreq ⋈ per-doc-agg diamond:
    - per-doc totals (n_grams) are a row-local projection
      (size(array_distinct(...))) on the documents scan — no explode,
      no shuffle;
    - the single explode feeds ONE groupBy(shingle) whose state is two
      scalars (count + min doc_id) — map-side partials, safe on hot
      boilerplate shingles, never a collect_list;
    - a doc's duplicated count falls out by subtraction: shingles with
      df = 1 have exactly one owner (min doc_id IS the owner), so
      n_dup = n_grams − n_unique_owned. df = 1 rows are the bulk of
      the agg output but each is one row — nothing unbounded.
    The dup fraction is one int/int division (IEEE-exact, bitwise
    stable cross-engine). Docs shorter than k tokens report 0/0 → 0.0.
    The oracle intentionally uses the naive join formulation — an
    independent derivation of the same semantics."""
    docs = load(spark, sf_dir, "documents")
    sh = doc_shingles(docs, k=_DUP_CHUNK_K)
    uniq_owned = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner"))
        .filter(F.col("df") == 1)
        .groupBy("owner")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .withColumnRenamed("owner", "doc_id")
    )
    # split staged before the shingle lambda (same no-CSE-across-
    # lambda finding as q_doc_repetition)
    n_grams = F.size(
        F.array_distinct(_shingle_expr(F.col("_toks"), _DUP_CHUNK_K))
    ).cast("long")
    per_doc = docs.select(
        "doc_id", "source", F.split("text", " ").alias("_toks")
    ).select("doc_id", "source", n_grams.alias("n_grams"))
    joined = per_doc.join(uniq_owned, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_grams",
        (F.col("n_grams") - F.coalesce(F.col("n_unique"), F.lit(0))).alias("n_dup"),
    )
    return joined.withColumn(
        "dup_frac",
        F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
            F.col("n_dup").cast("double") / F.col("n_grams")
        ),
    )


_DUP_CHUNK_SQL = f"""
WITH tok AS (SELECT doc_id, source, str_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct({_sql_kgrams(_DUP_CHUNK_K)})) AS shingle
  FROM tok
),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
dup AS (
  SELECT s.doc_id,
    count(*) AS n_grams,
    count(*) FILTER (WHERE d.df >= 2) AS n_dup
  FROM sh s JOIN dfreq d USING (shingle)
  GROUP BY s.doc_id
)
SELECT doc_id, source,
  COALESCE(n_grams, 0) AS n_grams,
  COALESCE(n_dup, 0) AS n_dup,
  CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0.0
       ELSE CAST(n_dup AS DOUBLE) / n_grams END AS dup_frac
FROM documents LEFT JOIN dup USING (doc_id)
"""


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN removal — the cleaning step on
    top of q_dup_chunk_fraction's scoring: docs are cut into
    non-overlapping 8-token chunks, any chunk appearing in ≥2 distinct
    documents is dropped from every document, and the surviving chunks
    are re-joined in order (the "dedup the repeated spans, keep the
    rest of the doc" pass of large-corpus curation, vs. dropping whole
    near-dup docs).

    Output is canonicalization-safe: per doc, chunk counts plus md5 +
    length of the cleaned text (not the text itself).

    Scale shape: one posexplode → one two-level distinct-count agg on
    chunk (map-side partials) → one equi-join back on chunk (AQE
    splits boilerplate-chunk skew) → one per-doc ordered
    reconstruction (collect_list of (pos, chunk) structs — bounded by
    the doc's own chunk count, the same per-key state as any per-doc
    agg). The O(n²) pair space never appears; cost is linear in corpus
    tokens."""
    docs = load(spark, sf_dir, "documents")
    # split staged into a named column: a raw split() referenced from
    # inside the transform lambda is re-evaluated per element (no CSE
    # across the lambda boundary — the q_bigram_logprob finding)
    toked = docs.select("doc_id", F.split("text", " ").alias("_toks"))
    toks = F.col("_toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(_DUP_CHUNK_K))).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.array_join(F.slice(toks, i * _DUP_CHUNK_K + 1, _DUP_CHUNK_K), " "),
    )
    exploded = toked.select(
        "doc_id", F.posexplode(chunks).alias("pos", "chunk")
    )
    freq = exploded.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    kept = exploded.join(freq, "chunk").filter(F.col("ndocs") < 2)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        toked.select("doc_id", n_chunks.alias("n_chunks"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
            F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias("clean_md5"),
            F.length(F.coalesce(F.col("clean_text"), F.lit(""))).cast("long").alias("clean_len"),
        )
    )


_DUP_SPAN_REMOVAL_SQL = f"""
WITH tok AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
pos_tbl AS (
  SELECT doc_id, t,
    unnest(generate_series(0, CAST(ceil(len(t) / {_DUP_CHUNK_K}.0) AS INT) - 1)) AS pos
  FROM tok
),
chunks AS (
  SELECT doc_id, pos,
    array_to_string(t[(pos * {_DUP_CHUNK_K} + 1):(pos * {_DUP_CHUNK_K} + {_DUP_CHUNK_K})], ' ') AS chunk
  FROM pos_tbl
),
freq AS (SELECT chunk, count(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY chunk),
kept AS (
  SELECT c.doc_id, c.pos, c.chunk FROM chunks c JOIN freq USING (chunk) WHERE ndocs < 2
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
    array_to_string(list(chunk ORDER BY pos), ' ') AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(ceil(len(str_split(d.text, ' ')) / {_DUP_CHUNK_K}.0) AS BIGINT) AS n_chunks,
  CAST(ceil(len(str_split(d.text, ' ')) / {_DUP_CHUNK_K}.0) AS BIGINT)
    - COALESCE(n_kept, 0) AS n_removed,
  md5(COALESCE(clean_text, '')) AS clean_md5,
  CAST(length(COALESCE(clean_text, '')) AS BIGINT) AS clean_len
FROM documents d LEFT JOIN rebuilt USING (doc_id)
"""


# The histogram-median collect is bounded by the DISTINCT-value count,
# not the row count — fine for token-count-like integer domains, a
# driver bomb on a continuous double column (~one histogram row per
# row). r10 verdict #5: ENFORCE the bounded-collect contract instead
# of assuming it — past this many distinct values _exact_median falls
# back to the distributed rank-selection walk. 65536 (value, count)
# rows ≈ 1.5 MB on the driver.
_MEDIAN_MAX_DISTINCT = 65_536


def _exact_median(
    df: DataFrame, col: str, max_distinct: int = _MEDIAN_MAX_DISTINCT
) -> float:
    """Global EXACT median without the full-sort single-reducer trap:
    histogram the column (groupBy value — state bounded by DISTINCT
    values, not rows), cumulative-count the histogram (a window over
    the distinct-value set only), then pick the two middle positions.
    For token-count-like columns the distinct set is tiny at any
    corpus size, so this scales where percentile()'s per-group sorted
    buffer would not. Returns (v_k1 + v_k2) / 2 — identical (IEEE
    exact on integers/half-integers) to quantile_cont(0.5).

    The histogram is a BOUNDED artifact (one row per distinct value),
    so the cumulative walk runs driver-side over the collected
    histogram — the same bounded-collect contract as IVF centroid
    sampling. One distributed job total (the groupBy), no window at
    all (the previous unpartitioned cumulative window was correct and
    bounded, but emitted 24 WindowExec warnings per run into the
    bench tail, and Catalyst folds any constant partition key back
    to an empty spec)."""
    # NULL values are excluded BEFORE the sort — Python's sorted()
    # would raise on a (None, count) tuple, and the DuckDB oracle's
    # quantile_cont ignores NULLs, so dropping them keeps both the
    # walk alive and the cross-engine contract on dirty input
    # limit(max_distinct + 1) makes the collect's bound EXECUTABLE:
    # getting back <= max_distinct rows proves the histogram is
    # complete; max_distinct + 1 rows proves the domain is too wide
    # for a driver-side walk (a continuous double column), and the
    # distributed rank-selection fallback takes over (r10 verdict #5).
    collected = (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .limit(max_distinct + 1)
        .collect()
    )
    if len(collected) > max_distinct:
        return _exact_median_distributed(df, col)
    hist = sorted((r[0], r[1]) for r in collected if r[0] is not None)
    tot = sum(c for _, c in hist)
    if tot == 0:
        raise ValueError("median of empty input")
    k1, k2 = (tot + 1) // 2, (tot + 2) // 2
    v1 = v2 = None
    cum = 0
    for v, c in hist:
        cum += c
        if v1 is None and cum >= k1:
            v1 = v
        if cum >= k2:
            v2 = v
            break
    return (float(v1) + float(v2)) / 2.0


def _exact_median_distributed(df: DataFrame, col: str) -> float:
    """Exact median when the value domain is too wide for the
    histogram walk (continuous columns): distributed rank selection.
    repartitionByRange orders the partitions by value; the per-
    partition counts (a BOUNDED collect — one row per partition)
    locate the partition holding each middle rank, and one
    sort-limit-agg job per rank extracts the value, touching only
    ~1/P of the rows. No full sort, no driver-side histogram."""
    vals = df.select(F.col(col).alias("_v")).filter(F.col("_v").isNotNull())
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = (
        vals.repartitionByRange(n_part, F.col("_v"))
        .select("_v", F.spark_partition_id().alias("_pid"))
        .localCheckpoint(eager=False)  # reused by the count and both rank probes
    )
    counts = sorted(
        (r["_pid"], r["_cnt"])
        for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    )  # bounded: one row per range partition
    tot = sum(c for _, c in counts)
    if tot == 0:
        raise ValueError("median of empty input")

    def kth(k: int) -> float:
        prior = 0
        for pid, c in counts:
            if prior + c >= k:
                # (k - prior)-th smallest within this range partition:
                # sort only this partition's slice, keep k-prior rows,
                # take the max — rows gathered per job <= k - prior
                row = (
                    parts.filter(F.col("_pid") == pid)
                    .orderBy("_v")
                    .limit(k - prior)
                    .agg(F.max("_v").alias("_m"))
                    .collect()[0]
                )
                return float(row["_m"])
            prior += c
        raise AssertionError(f"rank {k} > total {tot}")  # unreachable

    k1, k2 = (tot + 1) // 2, (tot + 2) // 2
    v1 = kth(k1)
    v2 = v1 if k2 == k1 else kth(k2)
    return (v1 + v2) / 2.0


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-statistics length filtering: flag documents whose token
    count deviates more than 3 robust sigmas (1.4826·MAD) from the
    corpus median — the outlier gate corpus curation applies before
    length-sensitive steps (truncation stats, packing efficiency),
    immune to the heavy tail that wrecks mean/stddev cuts.

    Median and MAD are exact via the histogram method (_exact_median)
    — no full-sort reducer; deviations |n − med| are half-integer so
    their histogram is as small as the length histogram. All outputs
    are IEEE-exact from integer inputs: med/mad interpolate two
    integers (or half-integers), and the threshold 3·1.4826·mad folds
    left-to-right in double on both engines — bitwise stable.

    Oracle: DuckDB quantile_cont(0.5), an independent derivation of
    the same exact median."""
    docs = load(spark, sf_dir, "documents")
    nt = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    med = _exact_median(nt, "n_tokens")
    dev = nt.withColumn("ad", F.abs(F.col("n_tokens") - F.lit(med)))
    mad = _exact_median(dev, "ad")
    thresh = 3 * 1.4826 * mad
    return nt.select(
        "doc_id",
        "n_tokens",
        F.lit(med).alias("med"),
        F.lit(mad).alias("mad"),
        (F.abs(F.col("n_tokens") - F.lit(med)) > F.lit(thresh)).alias("is_outlier"),
    )


_LENGTH_OUTLIERS_SQL = """
WITH nt AS (
  SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents
),
m AS (SELECT quantile_cont(n_tokens, 0.5) AS med FROM nt),
s AS (
  SELECT med, quantile_cont(abs(n_tokens - med), 0.5) AS mad
  FROM nt, m GROUP BY med
)
SELECT doc_id, n_tokens, med, mad,
  abs(n_tokens - med) > 3 * 1.4826 * mad AS is_outlier
FROM nt, s
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model score per document — the
    KenLM-style fluency/quality proxy: sum over tokens of
    ln P(tok), with P estimated from the corpus itself.

    Float discipline (see [cross-engine note in module docstring]):
    a raw float sum of logs is order-dependent and would hash-mismatch
    across engines/partitionings. Instead the transcendental is taken
    ONCE per distinct (term) — ln(gcnt/total) on an IEEE-exact double
    ratio — scaled to integer micro-nats, and everything after is
    BIGINT arithmetic (tf × micronats, summed): partitioning-invariant
    and bitwise stable. The per-token average is one final int/int
    division.

    Shuffle profile mirrors q_tfidf: one explode into the (doc, term)
    tf agg, tf materialized once (diamond checkpoint), vocab-sized df
    leg joined back (AQE-skew-splittable), corpus total as a broadcast
    1-row aggregate."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.localCheckpoint(eager=False)
    gfreq = tf.groupBy("term").agg(F.sum("tf").alias("gcnt"))
    total = gfreq.agg(F.sum("gcnt").alias("total"))
    micronats = F.round(
        F.log(F.col("gcnt").cast("double") / F.col("total").cast("double"))
        * F.lit(1_000_000.0)
    ).cast("long")
    return (
        tf.join(gfreq, "term")
        .join(F.broadcast(total))
        .select("doc_id", "tf", (F.col("tf") * micronats).alias("mn"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum("mn").alias("logprob_micronats"),
        )
        .withColumn(
            "avg_micronats",
            F.col("logprob_micronats").cast("double") / F.col("n_tokens"),
        )
    )


_UNIGRAM_LOGPROB_SQL = """
WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
gf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS gcnt FROM tf GROUP BY term),
tot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS total FROM gf),
scored AS (
  SELECT doc_id, tf,
    tf * CAST(round(ln(CAST(gcnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000)
              AS BIGINT) AS mn
  FROM tf JOIN gf USING (term) CROSS JOIN tot
)
SELECT doc_id,
  CAST(sum(tf) AS BIGINT) AS n_tokens,
  CAST(sum(mn) AS BIGINT) AS logprob_micronats,
  CAST(sum(mn) AS DOUBLE) / sum(tf) AS avg_micronats
FROM scored
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Mixture weighting and sequence packing
# ---------------------------------------------------------------------------


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (τ = 0.5): downsample each
    source toward sqrt-proportional mass — the standard rebalancing
    that keeps small sources from drowning in large ones. The keep
    rate for source s is floor(1e6 · sqrt(n_min / n_s)) per million
    (the smallest source keeps everything), applied with the
    deterministic hash bucket, so membership is reproducible on any
    engine/partitioning.

    Float discipline: sqrt is IEEE-correctly-rounded in every engine
    (unlike ln/pow), so rate computation is bitwise identical and the
    floor boundary cannot flip. Shuffle profile: one tiny per-source
    count agg broadcast back onto the scan-side filter — the sample
    itself is a pure filter, no data shuffle."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    min_n = counts.agg(F.min("n_s").alias("n_min"))
    rates = counts.join(F.broadcast(min_n)).select(
        "source",
        "n_s",
        F.floor(F.lit(1_000_000.0) * F.sqrt(F.col("n_min") / F.col("n_s"))).alias(
            "rate_ppm"
        ),
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(split_bucket(F.col("doc_id"), 1_000_000) < F.col("rate_ppm"))
    )
    return (
        kept.groupBy("source", "n_s", "rate_ppm")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("min_kept_id"))
    )


_SOURCE_MIXTURE_SQL = f"""
WITH counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
m AS (SELECT min(n_s) AS n_min FROM counts),
rates AS (
  SELECT source, n_s,
    CAST(floor(1000000.0 * sqrt(n_min / n_s::DOUBLE)) AS BIGINT) AS rate_ppm
  FROM counts CROSS JOIN m
)
SELECT source, n_s, rate_ppm,
  count(*) AS n_kept, min(doc_id) AS min_kept_id
FROM documents JOIN rates USING (source)
WHERE {split_bucket_sql('doc_id', 1000000)} < rate_ppm
GROUP BY source, n_s, rate_ppm
"""


_PACK_TARGET_TOKENS = 256
_PACK_SHARDS = 16


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document a
    (shard, pack, offset) so consecutive docs fill ~TARGET-token
    context windows — the layout step before training-batch
    materialization. Docs are sharded by hash (packing needs no global
    order, so the cumsum window runs per shard — at 100 TB raise
    _PACK_SHARDS so each shard's window state fits one task; the
    single-partition global cumsum is exactly the scale trap this
    avoids) and ordered deterministically inside a shard. All integer
    arithmetic.

    pack = start_offset div TARGET: a doc straddling a boundary
    belongs to the pack it starts in (greedy concat-and-chunk, the
    common training layout)."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    shard = split_bucket(F.col("doc_id"), _PACK_SHARDS)
    w = Window.partitionBy("shard").orderBy("doc_id")
    sized = docs.select("doc_id", shard.alias("shard"), n_tok.alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    return (
        sized.withColumn("start_offset", cum - F.col("n_tokens"))
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            "start_offset",
            # integer div, not floor(double/): exact at any offset magnitude
            F.expr(f"start_offset div {_PACK_TARGET_TOKENS}").alias("pack_id"),
            (F.col("start_offset") % F.lit(_PACK_TARGET_TOKENS)).alias("pack_offset"),
        )
    )


_SEQ_PACKING_SQL = f"""
WITH sized AS (
  SELECT doc_id,
    {split_bucket_sql('doc_id', _PACK_SHARDS)} AS shard,
    len(str_split(text, ' ')) AS n_tokens
  FROM documents
),
cumd AS (
  SELECT doc_id, shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
      AS start_offset
  FROM sized
)
SELECT doc_id, shard, n_tokens, start_offset,
  CAST(start_offset // {_PACK_TARGET_TOKENS} AS BIGINT) AS pack_id,
  CAST(start_offset % {_PACK_TARGET_TOKENS} AS BIGINT) AS pack_offset
FROM cumd
"""


def q_pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the training batches q_seq_packing laid out: per
    (shard, pack) the member docs concatenate in start-offset order
    into one context-window payload — the last step before tokenized
    shards hit the trainer. Output is canonicalization-safe (doc
    count, token sum, md5 of the payload), proving the ordering and
    membership end-to-end rather than just the offsets.

    Scale shape: the packing layout joins back to the documents scan
    on doc_id (no new shuffle class), then ONE groupBy (shard,
    pack_id) whose collect_list state is bounded by a pack's members —
    docs starting inside one ~2048-token window — so per-key state is
    capped by TARGET/min_doc_tokens texts regardless of corpus size."""
    packed = q_seq_packing(spark, sf_dir).select("doc_id", "shard", "n_tokens", "start_offset", "pack_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        packed.join(docs, "doc_id")
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("start_offset", "text"))),
                        lambda s: s["text"],
                    ),
                    " ",
                )
            ).alias("pack_md5"),
        )
    )


_PACK_MATERIALIZE_SQL = f"""
WITH sized AS (
  SELECT doc_id,
    {split_bucket_sql('doc_id', _PACK_SHARDS)} AS shard,
    len(str_split(text, ' ')) AS n_tokens
  FROM documents
),
cumd AS (
  SELECT doc_id, shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
      AS start_offset
  FROM sized
),
packs AS (
  SELECT c.shard,
    CAST(c.start_offset // {_PACK_TARGET_TOKENS} AS BIGINT) AS pack_id,
    c.start_offset, c.n_tokens, d.text
  FROM cumd c JOIN documents d USING (doc_id)
)
SELECT shard, pack_id,
  count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
  md5(array_to_string(list(text ORDER BY start_offset), ' ')) AS pack_md5
FROM packs
GROUP BY shard, pack_id
"""


QUERIES = {
    "llm_normalize": q_normalize,
    "llm_token_freq": q_token_freq,
    "llm_doc_repetition": q_doc_repetition,
    "llm_contamination": q_contamination,
    "llm_stratified_sample": q_stratified_sample,
    "llm_per_source_cap": q_per_source_cap,
    "llm_tfidf": q_tfidf,
    "llm_token_rarity": q_token_rarity,
    "llm_pii_redact": q_pii_redact,
    "llm_source_mixture": q_source_mixture,
    "llm_seq_packing": q_seq_packing,
    "llm_dup_chunk_fraction": q_dup_chunk_fraction,
    "llm_dup_span_removal": q_dup_span_removal,
    "llm_length_outliers": q_length_outliers,
    "llm_pack_materialize": q_pack_materialize,
    "llm_unigram_logprob": q_unigram_logprob,
}

ORACLE = {
    "llm_tfidf": _TFIDF_SQL,
    "llm_token_rarity": _TOKEN_RARITY_SQL,
    "llm_pii_redact": _pii_sql(),
    "llm_source_mixture": _SOURCE_MIXTURE_SQL,
    "llm_seq_packing": _SEQ_PACKING_SQL,
    "llm_normalize": _NORMALIZE_SQL,
    "llm_token_freq": _TOKEN_FREQ_SQL,
    "llm_doc_repetition": _DOC_REPETITION_SQL,
    "llm_contamination": _CONTAMINATION_SQL,
    "llm_stratified_sample": _STRATIFIED_SAMPLE_SQL,
    "llm_per_source_cap": _PER_SOURCE_CAP_SQL,
    "llm_dup_chunk_fraction": _DUP_CHUNK_SQL,
    "llm_dup_span_removal": _DUP_SPAN_REMOVAL_SQL,
    "llm_length_outliers": _LENGTH_OUTLIERS_SQL,
    "llm_pack_materialize": _PACK_MATERIALIZE_SQL,
    "llm_unigram_logprob": _UNIGRAM_LOGPROB_SQL,
}
