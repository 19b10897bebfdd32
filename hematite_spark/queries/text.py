"""Text-analysis operators (SURVEY.md §2 C) over the `documents`
table — the building blocks of an LLM training-data pipeline:
token counting, quality scoring, language ID, fingerprinting.

Everything here is built-in column expressions (split / transform /
aggregate / regexp) — JVM-side, whole-stage-codegen'd, no Python in
the hot path. At 100 TB these are embarrassingly parallel single-pass
scans; the only shuffles are the final small aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hematite_spark.functions import cms_rb_structs as _cms_rb
from hematite_spark.functions import norm_text as _norm_text
from hematite_spark.functions import words as _words
from hematite_spark.io import load_table
from hematite_spark.queries._shared import release_checkpoint

# Tiny per-language marker lexicons for the n-gram/stopword heuristic
# language-ID. Real pipelines use fastText/CLD3; the heuristic is the
# deterministic, oracle-checkable stand-in (same scoring both sides).
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}

_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex token
    count (word pieces + non-space punctuation), aggregated per
    source. chars_per_token is the compression-ratio proxy used for
    quality filtering."""
    docs = load_table(spark, "documents", sf_dir)
    per_doc = docs.select(
        "source",
        F.size(_words()).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0))
        .cast("bigint")
        .alias("re_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("re_tokens").alias("total_re_tokens"),
            F.round(F.sum("n_chars") / F.sum("ws_tokens"), 4).alias("chars_per_token"),
        )
        .orderBy("source")
    )


TOKEN_COUNT_SQL = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(re_tokens) AS BIGINT) AS total_re_tokens,
       round(sum(n_chars) / sum(ws_tokens), 4) AS chars_per_token
FROM (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS re_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents)
GROUP BY source
ORDER BY source
"""


def quality_col():
    """The combined [0,1]-ish quality score as a reusable Column —
    shared by the batch quality_score query and the STREAMING ingest
    filter (streaming/corpus.py), so both paths apply the identical
    rule."""
    w = _words()
    n_words = F.size(w).cast("bigint")
    uniq_ratio = F.size(F.array_distinct(w)) / F.size(w)
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(w), F.array(*[F.lit(s) for s in _STOPWORDS]))
    )
    return F.round(
        F.least(F.lit(1.0), n_words / F.lit(50.0)) * uniq_ratio
        * F.when(stop_hits > 0, F.lit(1.0)).otherwise(F.lit(0.5)),
        4,
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: per-document length/word-length/stopword/
    duplicate-word signals combined into a [0,1]-ish score — the
    Gopher/C4-style rule filter shape. Pure column algebra; the
    output keeps every per-doc signal so downstream filters can
    re-threshold without recomputing."""
    docs = load_table(spark, "documents", sf_dir)
    w = _words()
    n_words = F.size(w).cast("bigint")
    uniq_ratio = F.size(F.array_distinct(w)) / F.size(w)
    stop_hits = F.size(F.array_intersect(F.array_distinct(w), F.array(*[F.lit(s) for s in _STOPWORDS])))
    avg_wlen = (F.length("text") - F.size(w) + 1) / F.size(w)
    return (
        docs.select(
            "doc_id",
            "lang",
            n_words.alias("n_words"),
            F.round(avg_wlen, 4).alias("avg_word_len"),
            F.round(uniq_ratio, 4).alias("uniq_ratio"),
            stop_hits.cast("bigint").alias("stopword_kinds"),
            quality_col().alias("quality"),
        )
        .orderBy("doc_id")
    )


QUALITY_SQL = """
SELECT doc_id, lang,
       CAST(len(w) AS BIGINT) AS n_words,
       round((length(text) - len(w) + 1) / CAST(len(w) AS DOUBLE), 4) AS avg_word_len,
       round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) AS uniq_ratio,
       CAST(len(list_intersect(list_distinct(w),
            ['the','a','an','and','or','of','to','in','is','it'])) AS BIGINT) AS stopword_kinds,
       round(least(1.0, len(w) / 50.0) * (len(list_distinct(w)) / CAST(len(w) AS DOUBLE))
             * (CASE WHEN len(list_intersect(list_distinct(w),
                 ['the','a','an','and','or','of','to','in','is','it'])) > 0
                THEN 1.0 ELSE 0.5 END), 4) AS quality
FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents)
ORDER BY doc_id
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: marker-stopword voting — score each language by
    distinct marker hits, predict the argmax (ties → 'und'), then
    report the confusion against the labeled `lang` column. The
    deterministic stand-in for a model-based classifier; at scale the
    model version swaps in as a pandas UDF with identical plumbing."""
    docs = load_table(spark, "documents", sf_dir)
    w = F.array_distinct(_words())
    scores = [
        F.size(F.array_intersect(w, F.array(*[F.lit(m) for m in markers]))).alias(f"score_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", "lang", *scores)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    # first language (in fixed order) achieving the max, 'und' if max==0
    pred = F.when(best == 0, F.lit("und"))
    for l in langs:
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return (
        scored.withColumn("predicted", pred)
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted")
    )


LANGUAGE_ID_SQL = """
WITH scored AS (
  SELECT doc_id, lang,
         len(list_intersect(w, ['the','and','of','to','is'])) AS score_en,
         len(list_intersect(w, ['el','la','de','que','y'])) AS score_es,
         len(list_intersect(w, ['der','die','und','das','ist'])) AS score_de,
         len(list_intersect(w, ['le','la','les','et','est'])) AS score_fr
  FROM (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS w FROM documents)
), pred AS (
  SELECT lang,
         CASE WHEN greatest(score_en, score_es, score_de, score_fr) = 0 THEN 'und'
              WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
              WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
              WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
              ELSE 'fr' END AS predicted
  FROM scored)
SELECT lang, predicted, count(*) AS n_docs
FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
"""


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized text
    (the exact-dedup key) + a content-defined sketch — the first 4
    sorted distinct words — as a cheap locality probe. Reports
    distinct fingerprints per source = the exact-dup rate."""
    docs = load_table(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return (
        docs.select(
            "source",
            F.md5(norm).alias("fp"),
            F.concat_ws("|", F.slice(F.array_sort(F.array_distinct(_words())), 1, 4)).alias("sketch"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_unique_fp"),
            F.countDistinct("sketch").alias("n_unique_sketch"),
        )
        .orderBy("source")
    )


FINGERPRINT_SQL = """
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS n_unique_fp,
       count(DISTINCT array_to_string(list_sort(list_distinct(string_split(text,' ')))[1:4], '|')) AS n_unique_sketch
FROM documents
GROUP BY source
ORDER BY source
"""


def char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram Shannon entropy per document — the
    gibberish/boilerplate detector: natural prose sits in a band
    (~3-4 bits), keyboard mash and repeated templates fall out of it.
    Pure column algebra: explode positions → count bigrams → plug
    counts into -Σ p·log2 p. One explode + two aggregates; entropy
    math is identical in DuckDB so values match bit-for-bit after
    rounding. Reported per language (avg/min/max) to keep the result
    compact."""
    docs = load_table(spark, "documents", sf_dir)
    bigrams = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 1, 1)),"
                " i -> substring(text, i, 2))"
            )
        ).alias("bg"),
    )
    counts = bigrams.groupBy("doc_id", "lang", "bg").agg(F.count("*").alias("n"))
    ent = (
        counts.groupBy("doc_id", "lang")
        .agg(
            (
                -F.sum(F.col("n") * F.log2(F.col("n")))
                / F.sum("n")
                + F.log2(F.sum("n"))
            ).alias("h")
        )
    )
    return (
        ent.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("h"), 4).alias("avg_entropy"),
            F.round(F.min("h"), 4).alias("min_entropy"),
            F.round(F.max("h"), 4).alias("max_entropy"),
        )
        .orderBy("lang")
    )


CHAR_ENTROPY_SQL = """
WITH bigrams AS (
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, greatest(length(text) - 1, 1)),
                               i -> substring(text, i, 2))) AS bg
  FROM documents
), counts AS (
  SELECT doc_id, lang, bg, count(*) AS n
  FROM bigrams GROUP BY doc_id, lang, bg
), ent AS (
  SELECT doc_id, lang,
         -sum(n * log2(n)) / sum(n) + log2(sum(n)) AS h
  FROM counts GROUP BY doc_id, lang)
SELECT lang, count(*) AS n_docs,
       round(avg(h), 4) AS avg_entropy,
       round(min(h), 4) AS min_entropy,
       round(max(h), 4) AS max_entropy
FROM ent
GROUP BY lang
ORDER BY lang
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: the classic retrieval/feature weight, computed with
    pure relational algebra — explode terms, three aggregates
    (term-per-doc, doc length, document frequency), one scalar (corpus
    size) broadcast into the scoring join. Global top-50 terms by
    weight. At 100 TB the term-count aggregate map-side combines and
    the df/doc_len sides stay O(vocabulary)/O(docs); no Python, no ML
    pipeline objects — the same shape HashingTF+IDF produces, kept
    oracle-checkable (exact terms, no hash buckets)."""
    from hematite_spark.functions import norm_text

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.explode(F.split(norm_text(), " ")).alias("term"))
    # localCheckpoint: tc feeds three consumers (doc_len, df, scoring
    # join); materialized once so the corpus is exploded exactly once
    # instead of per-consumer (same pattern as the jaccard inverted
    # index). Released with the plan, unlike cache().
    tc = (
        toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf_cnt")).localCheckpoint()
    )
    dl = tc.groupBy("doc_id").agg(F.sum("tf_cnt").alias("doc_len"))
    dfc = tc.groupBy("term").agg(F.count("*").alias("df_cnt"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tc.join(dl, "doc_id")
        .join(dfc, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf_cnt") / F.col("doc_len") * F.log(F.col("n_docs") / F.col("df_cnt")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "doc_id", "term")
        .limit(50)
    )


TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
), tc AS (SELECT doc_id, term, count(*) AS tf_cnt FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf_cnt) AS doc_len FROM tc GROUP BY doc_id),
dfc AS (SELECT term, count(*) AS df_cnt FROM tc GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term,
       round(tf_cnt / CAST(doc_len AS DOUBLE) * ln(n_docs / CAST(df_cnt AS DOUBLE)), 6) AS tfidf
FROM tc JOIN dl USING (doc_id) JOIN dfc USING (term), n
ORDER BY tfidf DESC, doc_id, term
LIMIT 50
"""


def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build: the top-100 lowercased tokens by document
    frequency, with term frequency — the corpus-statistics pass that
    seeds tokenizer training (BPE merges start from exactly this
    table) and powers stopword/frequency filtering.

    One explode + one hash-aggregate on the token: the shuffle
    carries (token, doc_id) pairs, partial-aggregated map-side by
    Catalyst. At 100 TB the vocab aggregate is the canonical
    word-count shape — count-distinct on doc_id is the only state per
    token, and a two-level (partial/final) aggregate handles hot
    tokens; the top-k cut is TakeOrderedAndProject, never a global
    sort."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(_norm_text()), " ")).alias("token")
    ).where(F.length("token") > 0)
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("df").desc(), F.col("tf").desc(), "token")
        .limit(100)
    )


VOCABULARY_SQL = """
SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents)
WHERE length(token) > 0
GROUP BY token
ORDER BY df DESC, tf DESC, token
LIMIT 100
"""


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination — the LLM-pipeline step that keeps
    benchmark answers out of training data: find TRAIN-split documents
    sharing any word-5-gram with the TEST split, reporting how many
    distinct test 5-grams each contaminated train doc contains.
    Splits reuse the stable doc_id hash of split_train_test (train =
    hash<80, test = hash>=90), so membership matches the split
    operator exactly.

    Shape at scale: the test corpus is the small side — its DISTINCT
    shingle set is the build side of one equi-join on the shingle key
    (at 100 TB: a bloom filter over test shingles pre-filters the
    train side before the join, same topology). No doc-pair explosion:
    the join output is (train_doc, shingle) hits, aggregated per doc.
    A hot shingle (boilerplate) is the skew risk — AQE skew-join
    handles it, and a df-cap on shingles (drop shingles in >x% of
    docs) is the standard refinement."""
    from hematite_spark.queries.dedup import _shingles_df
    from hematite_spark.queries.sampling import _hash_pct

    sh = _shingles_df(spark, sf_dir, k=5)
    h = _hash_pct(F.col("doc_id"))
    train = sh.where(h < 80)
    test_shingles = sh.where(h >= 90).select("sh").distinct()
    return (
        train.join(test_shingles, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_5grams"))
        .where(F.col("n_shared_5grams") >= 3)
        .select(F.col("doc_id").alias("train_doc_id"), "n_shared_5grams")
        .orderBy("train_doc_id")
    )


# the split-hash formula is OWNED by sampling.py (split_train_test);
# importing it keeps decontamination membership exactly in sync with
# the split operator if the formula ever changes
from hematite_spark.queries.sampling import _DUCK_HASH_PCT as _SPLIT_HASH_SQL

_DECON_HASH = _SPLIT_HASH_SQL.format(k="doc_id::VARCHAR")

DECONTAMINATE_SQL = f"""
WITH shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 4, 1)),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS sh
  FROM (SELECT doc_id, string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
        FROM documents)
), train AS (
  SELECT doc_id, sh FROM shingles WHERE {_DECON_HASH} < 80
), test_shingles AS (
  SELECT DISTINCT sh FROM shingles WHERE {_DECON_HASH} >= 90
)
SELECT doc_id AS train_doc_id, count(*) AS n_shared_5grams
FROM train JOIN test_shingles USING (sh)
GROUP BY doc_id
HAVING count(*) >= 3
ORDER BY train_doc_id
"""


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher-rules family):
    per doc, the top-unigram mass fraction and the duplicate-bigram
    fraction — the two cheapest detectors of degenerate/templated
    text (keyboard mash, SEO keyword stuffing, boilerplate loops).
    Docs exceeding either threshold are flagged for removal.

    Two explode+hash-aggregate passes (unigrams, bigrams) joined on
    doc_id — both map-side-combine shapes whose shuffle carries one
    row per distinct (doc, gram), never the corpus text. At 100 TB
    this is the same single-pass profile as token counting; no
    Python, no sort, flagged set selected on rounded fractions so
    engine summation order can't flip a threshold decision."""
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(_norm_text(), " ")

    toks = docs.select("doc_id", F.explode(w).alias("t"))
    uni = (
        toks.groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(F.max("c") / F.sum("c"), 6).alias("top_unigram_frac"),
        )
    )

    bg_expr = (
        "transform(sequence(0, greatest(size(w) - 2, 0)),"
        " i -> concat(get(w, i), ' ', get(w, i + 1)))"
    )
    bg = (
        docs.withColumn("w", w)
        .select("doc_id", F.explode(F.expr(bg_expr)).alias("b"))
        .groupBy("doc_id")
        # count(col) skips the null bigram a 1-word doc produces —
        # same null-propagation as the oracle's w[i+1] past the end
        .agg(F.count("b").alias("n_bg"), F.countDistinct("b").alias("n_bg_distinct"))
        .select(
            "doc_id",
            F.round((F.col("n_bg") - F.col("n_bg_distinct")) / F.col("n_bg"), 6).alias(
                "dup_bigram_frac"
            ),
        )
    )

    return (
        uni.join(bg, "doc_id")
        .where((F.col("top_unigram_frac") >= 0.15) | (F.col("dup_bigram_frac") >= 0.08))
        .select("doc_id", "n_tokens", "top_unigram_frac", "dup_bigram_frac")
        .orderBy("doc_id")
    )


REPETITION_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
), uni AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_unigram_frac
  FROM (SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS t FROM w) GROUP BY doc_id, t)
  GROUP BY doc_id
), bg AS (
  SELECT doc_id,
         round((count(b) - count(DISTINCT b)) / CAST(count(b) AS DOUBLE), 6) AS dup_bigram_frac
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                      i -> w[i] || ' ' || w[i + 1])) AS b
        FROM w)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, top_unigram_frac, dup_bigram_frac
FROM uni JOIN bg USING (doc_id)
WHERE top_unigram_frac >= 0.15 OR dup_bigram_frac >= 0.08
ORDER BY doc_id
"""


def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repetition: per doc, the fraction of its
    distinct word-3-gram shingles that also appear in at least one
    OTHER document — the C4-style boilerplate detector (nav bars,
    license headers, templated intros live in many docs at once).
    Reported per source: mean/max boilerplate fraction and the count
    of mostly-boilerplate docs (≥80%).

    Relational all the way: the shingle document-frequency table is
    ONE hash aggregate over the inverted index (shared shape with
    dedup_ngram_jaccard), joined back to per-doc shingles. The join
    key is the shingle — O(corpus shingles) shuffle, no doc-pair
    explosion; a df-cap (drop shingles in >x% of docs) bounds the
    hot-key side at 100 TB, and AQE skew-join covers the rest."""
    from hematite_spark.queries.dedup import _shingles_df

    sh = _shingles_df(spark, sf_dir, k=3).localCheckpoint()
    dfc = sh.groupBy("sh").agg(F.count("*").alias("df"))
    per_doc = (
        sh.join(dfc, "sh")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.count(F.when(F.col("df") > 1, F.lit(1))) / F.count("*"), 6
            ).alias("bfrac")
        )
    )
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    return (
        per_doc.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("bfrac"), 6).alias("avg_boilerplate_frac"),
            F.round(F.max("bfrac"), 6).alias("max_boilerplate_frac"),
            F.count(F.when(F.col("bfrac") >= 0.8, F.lit(1))).alias("n_mostly_boilerplate"),
        )
        .orderBy("source")
    )


BOILERPLATE_SQL = r"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
  FROM (SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS w
        FROM documents)
), dfc AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
per_doc AS (
  SELECT doc_id,
         round(count(*) FILTER (df > 1) / CAST(count(*) AS DOUBLE), 6) AS bfrac
  FROM sh JOIN dfc USING (sh)
  GROUP BY doc_id
)
SELECT source, count(*) AS n_docs,
       round(avg(bfrac), 6) AS avg_boilerplate_frac,
       round(max(bfrac), 6) AS max_boilerplate_frac,
       count(*) FILTER (bfrac >= 0.8) AS n_mostly_boilerplate
FROM per_doc JOIN documents USING (doc_id)
GROUP BY source
ORDER BY source
"""


def tokens_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch (d=4 rows × w=64 buckets),
    audited against exact counts. The sketch is the 100 TB structure:
    counters are a fixed 256-cell table built by one map-side-combined
    aggregate — mergeable across partitions, machines, and days — and
    a token's estimate is the min over its 4 row-buckets, never an
    exact per-token shuffle of the full corpus. The exact-count join
    here is the AUDIT (overcount = est − exact ≥ 0 by construction),
    kept so the error contract is value-checked, not assumed.

    Bucket hashes are md5-derived, so the DuckDB oracle computes the
    byte-identical sketch (Spark conv(hex,16,10) ≡ DuckDB
    ('0x'||hex)::BIGINT — both engines agree on every counter)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(F.split(F.lower(_norm_text()), " ")).alias("t"))
    # ONE corpus-scale pass: the exact per-token counts (map-side
    # combined groupBy — the only shuffle that sees every token
    # occurrence). Everything downstream is vocabulary-sized, so the
    # sketch counters are built as grouped SUMS of the exact counts —
    # cell-for-cell identical to hashing each occurrence (addition is
    # associative), but md5 runs per vocab entry, not per occurrence.
    exact = toks.groupBy("t").agg(F.count("*").alias("exact_count")).localCheckpoint()
    hashed = exact.select(
        "t", "exact_count", F.explode(F.array(*_cms_rb(F.col("t")))).alias("rb")
    ).select("t", "exact_count", "rb.r", "rb.bucket")
    counters = hashed.groupBy("r", "bucket").agg(F.sum("exact_count").alias("c"))
    est = (
        hashed.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("t")
        .agg(F.min("c").alias("est_count"))
    )
    total = exact.agg(F.sum("exact_count").alias("n_total"))
    return (
        est.join(exact, "t")
        .crossJoin(F.broadcast(total))
        .where(F.col("est_count") >= F.col("n_total") / 100)
        .select(
            F.col("t").alias("token"),
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.col("est_count").desc(), "token")
        .limit(30)
    )


HEAVY_HITTERS_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS t
  FROM documents
),
hashed AS (
  SELECT t, r,
         ('0x' || substr(md5(r::VARCHAR || ':' || t), 1, 8))::BIGINT % 64 AS bucket
  FROM toks, (SELECT unnest([0, 1, 2, 3]) AS r)
),
counters AS (SELECT r, bucket, count(*) AS c FROM hashed GROUP BY r, bucket),
cand AS (SELECT DISTINCT t, r, bucket FROM hashed),
est AS (
  SELECT t, CAST(min(c) AS BIGINT) AS est_count
  FROM cand JOIN counters USING (r, bucket) GROUP BY t
),
exact AS (SELECT t, count(*) AS exact_count FROM toks GROUP BY t),
total AS (SELECT count(*) AS n_total FROM toks)
SELECT t AS token, est_count, exact_count, est_count - exact_count AS overcount
FROM est JOIN exact USING (t), total
WHERE est_count >= n_total / 100
ORDER BY est_count DESC, token
LIMIT 30
"""


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: weighted PageRank (damping 0.85,
    5 fixed iterations) over the corpus word co-occurrence graph —
    nodes are tokens, edges are adjacent-token pairs weighted by
    corpus bigram count, symmetrized. The classic unsupervised
    keyword ranker, and the catalog's second iterative-dataflow
    operator after connected components.

    Scale design: the graph tables (edges, out-weights, ranks) are
    vocabulary-sized and partition on the token key; every iteration
    is one shuffle join + one map-side-combined aggregate, and the
    iteration count is FIXED (5) — no driver-side convergence loop.
    The loop-invariant graph tables are checkpointed once and every
    superstep's ranks are checkpointed too: unrolled, iteration i's
    plan would nest i joins deep and optimizer time, not data, would
    dominate; each checkpoint also cuts the fault-tolerance lineage
    between supersteps. The previous superstep's checkpoint is
    released as soon as the next one materializes. The oracle unrolls
    the same 5 iterations as nested CTEs, proving the recursion, not
    just the last hop. Ranks round to 6 only at the end."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(F.split(F.lower(_norm_text()), " ").alias("w")).where(F.size("w") >= 2)
    bgf = d.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> struct(get(w, i) AS src, get(w, i + 1) AS dst))"
            )
        ).alias("b")
    ).select("b.src", "b.dst")
    edir = bgf.groupBy("src", "dst").agg(F.count("*").alias("w"))
    edges = (
        edir.union(edir.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("double").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # materialize the loop-invariant graph tables once and cut the
    # lineage per superstep (same policy as connected components):
    # otherwise iteration i's plan nests i joins deep and optimizer
    # time, not data, dominates — at 100 TB each checkpoint is also
    # the fault-tolerance cut between supersteps
    edges = edges.join(outw, "src").localCheckpoint()
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    n = nodes.agg(F.count("*").alias("n_nodes"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("r")
    )
    prev_cp = None
    for i in range(5):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("ow")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n_nodes")
                    + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
            )
        )
        if i < 4:
            ranks = ranks.localCheckpoint()
            # iteration i-1's rank blocks are dead the moment this
            # checkpoint materializes (at 100 TB a 5-superstep chain
            # otherwise retains 4 dead vocabulary-sized block sets
            # until the session GCs); None on the first superstep
            release_checkpoint(prev_cp)
            prev_cp = ranks
    return (
        ranks.select("node", F.round("r", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
        .withColumnRenamed("node", "token")
    )


_TEXTRANK_ITER = """r{i} AS (
  SELECT nd.node, 0.15 / nn.n_nodes + 0.85 * coalesce(sum(p.r * e.w / ow.ow), 0) AS r
  FROM nodes nd
  LEFT JOIN edges e ON e.dst = nd.node
  LEFT JOIN r{prev} p ON p.node = e.src
  LEFT JOIN outw ow ON ow.src = e.src
  CROSS JOIN n nn
  GROUP BY nd.node, nn.n_nodes
)"""

TEXTRANK_SQL = (
    r"""
WITH d AS (
  SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), d2 AS (SELECT * FROM d WHERE len(w) >= 2),
bgf AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS src,
         unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i + 1])) AS dst
  FROM d2
),
edir AS (SELECT src, dst, count(*) AS w FROM bgf GROUP BY src, dst),
edges AS (
  SELECT src, dst, CAST(sum(w) AS DOUBLE) AS w
  FROM (SELECT src, dst, w FROM edir UNION ALL SELECT dst AS src, src AS dst, w FROM edir)
  GROUP BY src, dst
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
n AS (SELECT count(*) AS n_nodes FROM nodes),
r0 AS (SELECT node, 1.0 / n_nodes AS r FROM nodes, n),
"""
    + ",\n".join(_TEXTRANK_ITER.format(i=i, prev=i - 1) for i in range(1, 6))
    + """
SELECT node AS token, round(r, 6) AS rank
FROM r5
ORDER BY rank DESC, token
LIMIT 20
"""
)


def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (32 tokens, stride 24 →
    8-token overlap): the context-window prep step for RAG indexing
    and long-doc training. Each chunk carries its provenance
    (doc_id, start offset), exact token count, and an md5 content
    fingerprint so downstream chunk-level dedup composes directly.

    Chunking is a per-row sequence/slice/explode — embarrassingly
    parallel, no shuffle at all until a downstream op asks for one;
    the fingerprint keeps chunk text out of the result (provenance +
    hash travel, text stays in the lake)."""
    return _chunks_df(spark, sf_dir).orderBy("doc_id", "chunk_id")


def _chunks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared 32-token/stride-24 chunk frame (provenance, token
    count, md5 fingerprint) — doc_chunk_overlap returns it directly;
    chunk_dedup_stats aggregates over it."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select("doc_id", F.split(_norm_text(), " ").alias("w"))
    chunks = d.select(
        "doc_id",
        F.explode(F.expr("sequence(0, greatest(size(w) - 1, 0), 24)")).alias("chunk_start"),
        F.col("w"),
    ).select(
        "doc_id",
        (F.col("chunk_start") / 24).cast("bigint").alias("chunk_id"),
        F.col("chunk_start").cast("bigint"),
        F.expr("slice(w, chunk_start + 1, 32)").alias("cw"),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        F.size("cw").cast("bigint").alias("n_tokens"),
        F.md5(F.array_join("cw", " ")).alias("chunk_fp"),
    )


DOC_CHUNK_SQL = r"""
WITH d AS (
  SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(generate_series(0, greatest(len(w) - 1, 0), 24)) AS chunk_start,
         w
  FROM d
)
SELECT doc_id,
       CAST(chunk_start / 24 AS BIGINT) AS chunk_id,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       CAST(len(list_slice(w, chunk_start + 1, chunk_start + 32)) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(w, chunk_start + 1, chunk_start + 32), ' ')) AS chunk_fp
FROM chunks
ORDER BY doc_id, chunk_id
"""


def text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate detection: positions whose 5-gram shingle
    also appears in ANOTHER document, collapsed into per-doc maximal
    runs via the gaps-and-islands pattern (pos − row_number is
    constant within a consecutive run) — the signal behind
    substring-level dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): long cross-doc runs are
    boilerplate/licenses/copied spans that survive doc-level dedup.

    The cross-doc shingle set is one hash aggregate (distinct-doc
    count > 1), re-joined to positions on the shingle key; islands
    are a per-doc window — state per task is one counter. No doc-pair
    join anywhere, so there is nothing quadratic to explode at
    100 TB."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select("doc_id", F.split(_norm_text(), " ").alias("w")).where(F.size("w") >= 5)
    pos_sh = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(w) - 5),"
                " i -> concat_ws(' ', slice(w, i + 1, 5)))"
            )
        ).alias("pos", "sh"),
    )
    cross_doc = (
        pos_sh.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("sh")
    )
    marked = pos_sh.join(cross_doc, "sh").select("doc_id", "pos")
    from pyspark.sql import Window as W

    isl = marked.withColumn(
        "grp", F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
    )
    runs = isl.groupBy("doc_id", "grp").agg(F.count("*").alias("run_len"))
    return (
        runs.groupBy("doc_id")
        .agg(
            F.sum("run_len").alias("n_dup_positions"),
            F.max("run_len").alias("max_dup_run"),
        )
        .orderBy("doc_id")
    )


DUPLICATE_SPANS_SQL = r"""
WITH d AS (
  SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
), d2 AS (SELECT * FROM d WHERE len(w) >= 5),
pos_sh AS (
  SELECT doc_id,
         unnest(generate_series(0, len(w) - 5)) AS pos,
         unnest(list_transform(generate_series(1, len(w) - 4),
                i -> array_to_string(list_slice(w, i, i + 4), ' '))) AS sh
  FROM d2
),
cross_doc AS (
  SELECT sh FROM pos_sh GROUP BY sh HAVING count(DISTINCT doc_id) > 1
),
marked AS (SELECT doc_id, pos FROM pos_sh JOIN cross_doc USING (sh)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM marked
),
runs AS (SELECT doc_id, grp, count(*) AS run_len FROM isl GROUP BY doc_id, grp)
SELECT doc_id,
       CAST(sum(run_len) AS BIGINT) AS n_dup_positions,
       max(run_len) AS max_dup_run
FROM runs
GROUP BY doc_id
ORDER BY doc_id
"""


def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup accounting: how much of each source's corpus
    is duplicated at 32-token-chunk granularity — the composition of
    the chunker with exact fingerprint dedup, and the statistic that
    decides whether a source needs span-level cleaning before
    training (doc-level dedup misses partial overlap; chunk-level
    catches it). One hash aggregate on the chunk fingerprint finds
    corpus-wide duplicate chunks; the per-source rollup map-side
    combines. No pair join anywhere."""
    ch = _chunks_df(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    dup_fps = (
        ch.groupBy("chunk_fp").agg(F.count("*").alias("n")).where(F.col("n") > 1).select("chunk_fp")
    )
    flagged = ch.join(F.broadcast(dup_fps), "chunk_fp", "left_semi").select("doc_id", "chunk_id")
    per_doc = ch.select("doc_id", "chunk_id").join(docs, "doc_id")
    marked = per_doc.join(flagged.withColumn("is_dup", F.lit(1)), ["doc_id", "chunk_id"], "left")
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("bigint").alias("n_dup_chunks"),
            F.round(
                F.sum(F.coalesce(F.col("is_dup"), F.lit(0))) / F.count("*"), 4
            ).alias("dup_fraction"),
        )
        .orderBy("source")
    )


CHUNK_DEDUP_SQL = r"""
WITH d AS (
  SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(generate_series(0, greatest(len(w) - 1, 0), 24)) AS chunk_start,
         w
  FROM d
), ch AS (
  SELECT doc_id,
         CAST(chunk_start / 24 AS BIGINT) AS chunk_id,
         md5(array_to_string(list_slice(w, chunk_start + 1, chunk_start + 32), ' ')) AS chunk_fp
  FROM chunks
),
dup_fps AS (SELECT chunk_fp FROM ch GROUP BY chunk_fp HAVING count(*) > 1)
SELECT s.source,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN ch.chunk_fp IN (SELECT chunk_fp FROM dup_fps) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       round(sum(CASE WHEN ch.chunk_fp IN (SELECT chunk_fp FROM dup_fps) THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS dup_fraction
FROM ch JOIN (SELECT doc_id, source FROM documents) s USING (doc_id)
GROUP BY s.source
ORDER BY s.source
"""


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram features are, so a
    weighted resample shifts the training mixture toward the target
    domain without training a classifier.

    Features are word bigrams hashed into 256 buckets (md5-derived so
    the oracle computes identical buckets). The target distribution
    is estimated from the `lang = 'en'` slice, the raw distribution
    from the whole corpus; both are add-one-smoothed bucket
    frequencies. A doc's log importance weight is the mean of
    ln p_target(f) − ln p_raw(f) over its feature OCCURRENCES.

    Scale design: the two feature tables are 256 rows — broadcast
    joins — so the whole operator is one corpus-scale bigram pass +
    one per-doc aggregate; nothing pairwise, nothing iterative. The
    resample itself then composes with sample_weighted_reservoir.
    Returns the 20 highest-weight non-English docs (the ones DSIR
    would pull into an English-targeted mixture) — deterministic
    tie-break on doc_id."""
    B = 256
    docs = load_table(spark, "documents", sf_dir)
    d = docs.withColumn("w", F.split(F.lower(_norm_text()), " "))
    grams = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(0, greatest(size(w) - 2, 0)),"
                " i -> concat(get(w, i), ' ', get(w, i + 1)))"
            )
        ).alias("g"),
    ).where(F.col("g").isNotNull())
    feats = grams.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint") % B).alias("f"),
    ).localCheckpoint()  # one bigram pass feeds all three consumers
    target = feats.where(F.col("lang") == "en").groupBy("f").agg(F.count("*").alias("ct"))
    raw = feats.groupBy("f").agg(F.count("*").alias("cr"))
    # corpus totals as a 1-row broadcast — stays in the lazy plan, no
    # driver round-trip
    totals = feats.agg(
        F.count("*").alias("nr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
    )
    logratio = (
        raw.join(target, "f", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "f",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + B))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + B))
            ).alias("lr"),
        )
    )
    return (
        feats.where(F.col("lang") != "en")
        .join(F.broadcast(logratio), "f")
        .groupBy("doc_id")
        .agg(F.round(F.avg("lr"), 6).alias("log_weight"), F.count("*").alias("n_feats"))
        .orderBy(F.col("log_weight").desc(), "doc_id")
        .limit(20)
    )


DSIR_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                               i -> w[i] || ' ' || w[i + 1])) AS g
  FROM d
), feats AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS f
  FROM grams WHERE g IS NOT NULL
), target AS (SELECT f, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY f),
raw AS (SELECT f, count(*) AS cr FROM feats GROUP BY f),
nt AS (SELECT count(*) AS n FROM feats WHERE lang = 'en'),
nr AS (SELECT count(*) AS n FROM feats),
logratio AS (
  SELECT raw.f,
         ln((coalesce(ct, 0) + 1.0) / (nt.n + 256)) - ln((cr + 1.0) / (nr.n + 256)) AS lr
  FROM raw LEFT JOIN target ON raw.f = target.f, nt, nr)
SELECT doc_id, round(avg(lr), 6) AS log_weight, count(*) AS n_feats
FROM feats JOIN logratio USING (f)
WHERE lang <> 'en'
GROUP BY doc_id
ORDER BY log_weight DESC, doc_id
LIMIT 20
"""


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word-3-grams that appear in NO other document — the inverse of
    how derivative the doc is. Low-novelty docs are re-hashes of
    corpus content (templates, quotes, near-dups that slipped past
    pairwise dedup) and are the first candidates for down-weighting
    in a training mixture.

    Mechanics: the same inverted shingle index as the dedup family,
    but instead of a pair join, one groupBy computes each shingle's
    document frequency; a second per-doc aggregate counts df=1
    shingles. Two hash-aggregates on corpus-scale data, no joins
    wider than (shingle → df) — strictly cheaper than any pairwise
    dedup pass, so it runs on the full 100 TB corpus where pair
    joins run only on LSH survivors. Returns the 20 least-novel
    docs (most derivative first; ties on doc_id)."""
    from hematite_spark.queries.dedup import _shingles_df

    sh = _shingles_df(spark, sf_dir).where(F.col("sh").isNotNull()).localCheckpoint()
    df_ = sh.groupBy("sh").agg(F.countDistinct("doc_id").alias("df"))
    return (
        sh.join(df_, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("bigint").alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_shingles"), 4).alias("novelty"),
        )
        .orderBy("novelty", "doc_id")
        .limit(20)
    )


NGRAM_NOVELTY_SQL = r"""
WITH shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM (SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS w
        FROM documents)
), shn AS (SELECT * FROM shingles WHERE sh IS NOT NULL),
dfs AS (SELECT sh, count(DISTINCT doc_id) AS df FROM shn GROUP BY sh)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS novelty
FROM shn JOIN dfs USING (sh)
GROUP BY doc_id
ORDER BY novelty, doc_id
LIMIT 20
"""


def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information:
    PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) over adjacent token pairs,
    min support 5 — the classic measure for multi-word expressions
    ("new york"-style units) worth fusing before tokenizer training.

    One corpus pass explodes bigrams; unigram and bigram counts are
    map-side-combined aggregates; the totals ride 1-row broadcast
    cross joins. Nothing here is pairwise beyond ADJACENT tokens, so
    the cost is linear in corpus size — at 100 TB the two count
    tables partition on the token key, and the PMI join is keyed on
    the bigram's components. Top 20 by PMI (ties → pair)."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.withColumn("w", F.split(F.lower(_norm_text()), " "))
    bigrams = d.select(
        F.explode(
            F.expr(
                "transform(sequence(0, greatest(size(w) - 2, 0)),"
                " i -> struct(get(w, i) AS a, get(w, i + 1) AS b))"
            )
        ).alias("g")
    ).select("g.a", "g.b").where(F.col("a").isNotNull() & F.col("b").isNotNull())
    toks = d.select(F.explode("w").alias("t"))
    uni = toks.groupBy("t").agg(F.count("*").alias("cu"))
    big = bigrams.groupBy("a", "b").agg(F.count("*").alias("cb")).where(F.col("cb") >= 5)
    n_uni = toks.agg(F.count("*").alias("nu"))
    n_big = bigrams.agg(F.count("*").alias("nb"))
    ua, ub = uni.alias("ua"), uni.alias("ub")
    return (
        big.join(ua, F.col("a") == F.col("ua.t"))
        .join(ub, F.col("b") == F.col("ub.t"))
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "a",
            "b",
            "cb",
            F.round(
                F.log(
                    (F.col("cb") / F.col("nb"))
                    / ((F.col("ua.cu") / F.col("nu")) * (F.col("ub.cu") / F.col("nu")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(20)
    )


PMI_SQL = r"""
WITH d AS (
  SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), bigrams AS (
  SELECT w[i] AS a, w[i + 1] AS b
  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i)
  WHERE w[i] IS NOT NULL AND w[i + 1] IS NOT NULL
), toks AS (SELECT unnest(w) AS t FROM d),
uni AS (SELECT t, count(*) AS cu FROM toks GROUP BY t),
big AS (SELECT a, b, count(*) AS cb FROM bigrams GROUP BY a, b HAVING count(*) >= 5),
nu AS (SELECT count(*) AS nu FROM toks),
nb AS (SELECT count(*) AS nb FROM bigrams)
SELECT a, b, cb,
       round(ln((cb / CAST(nb AS DOUBLE))
                / ((ua.cu / CAST(nu AS DOUBLE)) * (ub.cu / CAST(nu AS DOUBLE)))), 4) AS pmi
FROM big
JOIN uni ua ON a = ua.t
JOIN uni ub ON b = ub.t, nu, nb
ORDER BY pmi DESC, a, b
LIMIT 20
"""


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — token → (document frequency, sorted
    posting list): the exact-lookup sibling of the LSH band index and
    the substrate for corpus_decontaminate-style containment probes.

    Postings are distinct (token, doc) pairs — one explode + one hash
    aggregate keyed on the token, no joins; the posting list is
    rendered as a comma-joined sorted string so the oracle value-checks
    the index itself, not just its stats. At 100 TB the token is the
    shuffle key (AQE handles the Zipfian skew) and the df floor keeps
    hapax noise out; real indexes also CAP df — stopword-scale posting
    lists get sharded, which is the same banding trick as LSH."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(_words())).alias("token")
    ).where(F.col("token").rlike("^[a-z]{3,}$"))
    postings = F.array_join(
        F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")), ","
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("doc_freq"), postings.alias("postings"))
        .where(F.col("doc_freq") >= 3)
        .orderBy("token")
    )


INVERTED_INDEX_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE regexp_matches(token, '^[a-z]{3,}$'))
SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
       array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',') AS postings
FROM toks
GROUP BY token
HAVING count(*) >= 3
ORDER BY token
"""


def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language — regress log(frequency) on
    log(rank) over the token frequency table and report the slope
    (ideal corpora sit near -1) and fit quality. The slope is the
    cheap corpus-health diagnostic: templated/boilerplate-heavy
    corpora flatten the head, OCR noise fattens the tail, and both
    move the slope and r² before any human reads a sample.

    Shape: one explode + one vocabulary-scale hash aggregate, a
    per-language window for ranks, then a single-pass co-moment
    regression aggregate (regr_slope/regr_r2) — no driver math. The
    window partitions by language, never globally."""
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("lang", F.explode(_words()).alias("token")).where(
        F.col("token").rlike("^[a-z]+$")
    )
    freq = toks.groupBy("lang", "token").agg(F.count("*").alias("freq"))
    w = W.partitionBy("lang").orderBy(F.col("freq").desc(), "token")
    ranked = freq.withColumn("rank", F.row_number().over(w))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").alias("vocab"),
            F.round(F.regr_slope(F.log("freq"), F.log("rank")), 4).alias("zipf_slope"),
            F.round(F.regr_r2(F.log("freq"), F.log("rank")), 4).alias("r2"),
        )
        .orderBy("lang")
    )


TOKEN_ZIPF_SQL = """
WITH freq AS (
  SELECT lang, token, count(*) AS freq
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE regexp_matches(token, '^[a-z]+$')
  GROUP BY lang, token),
ranked AS (
  SELECT lang, freq,
         row_number() OVER (PARTITION BY lang ORDER BY freq DESC, token) AS rank
  FROM freq)
SELECT lang, count(*) AS vocab,
       round(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
       round(regr_r2(ln(freq), ln(rank)), 4) AS r2
FROM ranked
GROUP BY lang
ORDER BY lang
"""


def source_quality_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes per-source quality calibration: small sources'
    raw mean quality is noisy, so shrink toward the global mean with
    pseudo-count k=20 — shrunk = (n·mean + k·global)/(n + k). The
    ranking a mixture planner should weight by, instead of trusting a
    3-doc source's lucky mean. Global mean is a 1-row broadcast; the
    rest is one per-source aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    per_doc = docs.select("source", quality_col().alias("q"))
    g = per_doc.agg(F.avg("q").alias("gmean"))
    return (
        per_doc.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"), F.avg("q").alias("raw_mean"))
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            "n_docs",
            F.round("raw_mean", 6).alias("raw_mean_q"),
            F.round(
                (F.col("n_docs") * F.col("raw_mean") + 20.0 * F.col("gmean"))
                / (F.col("n_docs") + 20.0),
                6,
            ).alias("shrunk_mean_q"),
        )
        .orderBy("source")
    )


_QUALITY_EXPR_SQL = """round(least(1.0, len(w) / 50.0) * (len(list_distinct(w)) / CAST(len(w) AS DOUBLE))
             * (CASE WHEN len(list_intersect(list_distinct(w),
                 ['the','a','an','and','or','of','to','in','is','it'])) > 0
                THEN 1.0 ELSE 0.5 END), 4)"""

SOURCE_SHRINKAGE_SQL = f"""
WITH per_doc AS (
  SELECT source, {_QUALITY_EXPR_SQL} AS q
  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)),
g AS (SELECT avg(q) AS gmean FROM per_doc)
SELECT source, n_docs, round(raw_mean, 6) AS raw_mean_q,
       round((n_docs * raw_mean + 20.0 * gmean) / (n_docs + 20.0), 6) AS shrunk_mean_q
FROM (SELECT source, count(*)::BIGINT AS n_docs, avg(q) AS raw_mean
      FROM per_doc GROUP BY source), g
ORDER BY source
"""


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-threshold planning table: bucket the quality score into
    deciles of its own distribution (exact ntile over the per-doc
    score) and report per-decile doc/token mass plus the CUMULATIVE
    share of tokens kept if the filter cut at that decile — the table
    a pipeline owner reads to pick the quality cutoff that hits a
    token budget.

    Scale note: exact ntile needs a global sort of (score) — fine for
    the planning table computed on a SAMPLE; the docstring-documented
    100 TB variant swaps ntile for approx_percentile cutpoints
    broadcast into a stateless bucketing filter (same shape as
    quantile_bins_price's documented scale path)."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    per_doc = docs.select(
        quality_col().alias("q"),
        F.size(F.split(_norm_text(), " ")).cast("bigint").alias("n_tokens"),
    )
    decile = F.ntile(10).over(Window.orderBy(F.col("q"), F.col("n_tokens"))).cast("bigint")
    binned = (
        per_doc.select("q", "n_tokens", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.round(F.min("q"), 4).alias("min_q"),
            F.round(F.max("q"), 4).alias("max_q"),
        )
    )
    tot = per_doc.agg(F.sum("n_tokens").alias("total_tokens"))
    wcum = Window.orderBy(F.col("decile").desc()).rowsBetween(Window.unboundedPreceding, 0)
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_docs",
            "tokens",
            "min_q",
            "max_q",
            F.round(F.sum("tokens").over(wcum) / F.col("total_tokens"), 6).alias(
                "kept_token_share_if_cut_here"
            ),
        )
        .orderBy("decile")
    )


QUALITY_SWEEP_SQL = f"""
WITH per_doc AS (
  SELECT {_QUALITY_EXPR_SQL} AS q,
         len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))::BIGINT AS n_tokens
  FROM (SELECT text, string_split(text, ' ') AS w FROM documents)),
binned AS (
  SELECT decile, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS tokens,
         round(min(q), 4) AS min_q, round(max(q), 4) AS max_q
  FROM (SELECT q, n_tokens, ntile(10) OVER (ORDER BY q, n_tokens)::BIGINT AS decile FROM per_doc)
  GROUP BY decile),
tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM per_doc)
SELECT decile, n_docs, tokens, min_q, max_q,
       round(sum(tokens) OVER (ORDER BY decile DESC ROWS UNBOUNDED PRECEDING)
             / CAST(total_tokens AS DOUBLE), 6) AS kept_token_share_if_cut_here
FROM binned, tot
ORDER BY decile
"""


def source_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card — the one-table 'datasheet' a corpus ships
    with: volume (docs, whitespace tokens), rule-based quality mean,
    language mix (distinct langs, dominant lang + its share), and the
    exact-duplicate rate (1 − distinct normalized fingerprints /
    docs). Composes the catalog's own signals — quality_col and the
    dedup_exact fingerprint — so the card always agrees with the
    operators that act on those signals.

    Scale: two aggregates — one pass per source over the corpus
    (counts, tokens, quality, distinct fingerprints via one hash agg)
    and one O(sources × langs) language-mix table reduced by a
    per-source argmax window. Nothing wider than (source) shuffles."""
    docs = load_table(spark, "documents", sf_dir)
    w = _words()
    base = docs.select(
        "source",
        "lang",
        F.size(w).cast("bigint").alias("n_tokens"),
        quality_col().alias("q"),
        F.md5(_norm_text()).alias("fp"),
    )
    per_source = base.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("q"), 6).alias("mean_quality"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.round(F.lit(1.0) - F.countDistinct("fp") / F.count("*"), 6).alias("exact_dup_rate"),
    )
    from pyspark.sql import Window as W

    lang_mix = base.groupBy("source", "lang").agg(F.count("*").alias("n"))
    wl = W.partitionBy("source").orderBy(F.col("n").desc(), F.col("lang").asc())
    top = (
        lang_mix.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("n").alias("top_n"))
    )
    return (
        per_source.join(top, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "mean_quality",
            "n_langs",
            "top_lang",
            F.round(F.col("top_n") / F.col("n_docs"), 6).alias("top_lang_share"),
            "exact_dup_rate",
        )
        .orderBy("source")
    )


SOURCE_DATA_CARD_SQL = rf"""
WITH base AS (
  SELECT source, lang,
         CAST(len(w) AS BIGINT) AS n_tokens,
         {_QUALITY_EXPR_SQL} AS q,
         md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
  FROM (SELECT source, lang, text, string_split(text, ' ') AS w FROM documents)),
per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
         round(avg(q), 6) AS mean_quality,
         count(DISTINCT lang)::BIGINT AS n_langs,
         round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 6) AS exact_dup_rate
  FROM base GROUP BY source),
top AS (
  SELECT source, lang AS top_lang, n AS top_n
  FROM (SELECT source, lang, count(*) AS n,
               row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang ASC) AS rn
        FROM base GROUP BY source, lang)
  WHERE rn = 1)
SELECT source, n_docs, total_tokens, mean_quality, n_langs, top_lang,
       round(top_n / CAST(n_docs AS DOUBLE), 6) AS top_lang_share,
       exact_dup_rate
FROM per_source JOIN top USING (source)
ORDER BY source
"""


# Domain gazetteer for dictionary-based entity tagging — in a real
# pipeline this is the (country/org/product) lexicon shipped with the
# corpus; keyed to the synthetic corpus vocabulary so matches are
# non-degenerate at every sf.
_GAZETTEER = [
    ("customer", "actor"),
    ("supplier", "actor"),
    ("order", "artifact"),
    ("part", "artifact"),
    ("line", "artifact"),
    ("table", "storage"),
    ("column", "storage"),
    ("row", "storage"),
    ("spark", "engine"),
    ("stream", "engine"),
    ("batch", "engine"),
    ("query", "engine"),
]


def gazetteer_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-based entity tagging (gazetteer NER): explode the
    corpus into tokens and equi-join them against a broadcast entity
    lexicon, producing the per-entity mention census — total mentions,
    document frequency, corpus share, and mentions-per-matching-doc.
    The cheap, exact first pass real NER pipelines run before any
    model: at 100 TB the lexicon (10^4-10^6 entries) broadcasts to
    every executor, the token explode is embarrassingly parallel, and
    the only shuffle is the O(entities) aggregate. Doc frequency uses
    one distinct-aggregate on (entity, doc_id) — partial-combined
    map-side, never a row-level distinct."""
    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()  # O(1) metadata count for the share column
    gaz = spark.createDataFrame(_GAZETTEER, "entity string, entity_type string")
    tokens = docs.select("doc_id", F.explode(_words()).alias("entity"))
    hits = tokens.join(F.broadcast(gaz), "entity")
    return (
        hits.groupBy("entity", "entity_type")
        .agg(
            F.count("*").cast("bigint").alias("mentions"),
            F.countDistinct("doc_id").cast("bigint").alias("doc_freq"),
        )
        .select(
            "entity",
            "entity_type",
            "mentions",
            "doc_freq",
            F.round(F.col("doc_freq") / F.lit(float(n_docs)), 6).alias("docs_share"),
            F.round(F.col("mentions") / F.col("doc_freq"), 6).alias("mentions_per_doc"),
        )
        .orderBy("entity")
    )


_GAZETTEER_VALUES = ", ".join(f"('{e}', '{t}')" for e, t in _GAZETTEER)

GAZETTEER_SQL = f"""
WITH gaz(entity, entity_type) AS (VALUES {_GAZETTEER_VALUES}),
tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS entity FROM documents),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
hits AS (
  SELECT t.doc_id, g.entity, g.entity_type
  FROM tokens t JOIN gaz g USING (entity))
SELECT entity, entity_type,
       count(*)::BIGINT AS mentions,
       count(DISTINCT doc_id)::BIGINT AS doc_freq,
       round(count(DISTINCT doc_id) / (SELECT n_docs FROM n), 6) AS docs_share,
       round(count(*) / CAST(count(DISTINCT doc_id) AS DOUBLE), 6) AS mentions_per_doc
FROM hits
GROUP BY entity, entity_type
ORDER BY entity
"""


def pii_scan_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection audit — the scrubbing pass a corpus gets before
    training: regex detectors for emails, phone numbers, IPv4
    addresses, and 16-digit card-like sequences, with real Luhn
    checksum validation separating card CANDIDATES from valid numbers
    (the precision lever every PII pipeline needs — digit runs are
    common, valid checksums are not). The synthetic corpus carries no
    PII, so a deterministic doc_id-keyed fixture injects each class
    into a known slice of docs (mirrored exactly in the oracle) — the
    operator under test is the detector stack, the injection is the
    ground truth.

    100 TB: detectors are stateless column regexes fused into one
    codegen'd projection (one text pass, all four classes); the Luhn
    check runs as a higher-order array expression on the ≤few
    candidates per doc — no Python, no explode. Only the O(sources)
    aggregate shuffles."""
    docs = load_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    s = lambda c: c.cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact user"), s(did), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" tel 555-"),
                F.lpad(s(did % 10000), 4, "0"),
                F.lit("-"),
                F.lpad(s((did * 7) % 10000), 4, "0"),
            ),
        ).otherwise(""),
        F.when(
            did % 13 == 0,
            F.concat(F.lit(" card 4"), F.lpad(s((did * 271828) % 1000000000000000), 15, "0")),
        ).otherwise(""),
        F.when(
            did % 17 == 0,
            F.concat(
                F.lit(" ip 10."),
                s(did % 256),
                F.lit("."),
                s(F.floor(did / 256) % 256),
                F.lit("."),
                s(did % 200 + 1),
            ),
        ).otherwise(""),
    )
    hits = docs.select(
        "source",
        F.size(F.regexp_extract_all(aug, F.lit(r"[a-z0-9]+@[a-z0-9]+\.[a-z]+"), 0)).alias("emails"),
        F.size(F.regexp_extract_all(aug, F.lit(r"555-[0-9]{4}-[0-9]{4}"), 0)).alias("phones"),
        F.size(
            F.regexp_extract_all(aug, F.lit(r"10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"), 0)
        ).alias("ipv4s"),
        F.regexp_extract_all(aug, F.lit("[0-9]{16}"), 0).alias("cards"),
    ).select(
        "source",
        "emails",
        "phones",
        "ipv4s",
        F.size("cards").alias("card_candidates"),
        F.expr(
            """aggregate(cards, 0, (acc, c) -> acc + IF(
                 aggregate(transform(split(reverse(c), ''), (ch, i) ->
                   CASE WHEN i % 2 = 1
                        THEN IF(int(ch) * 2 > 9, int(ch) * 2 - 9, int(ch) * 2)
                        ELSE int(ch) END),
                   0, (a, x) -> a + x) % 10 = 0, 1, 0))"""
        ).alias("cards_luhn_valid"),
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                (
                    (F.col("emails") + F.col("phones") + F.col("ipv4s") + F.col("card_candidates"))
                    > 0
                ).cast("int")
            ).cast("bigint").alias("docs_with_pii"),
            F.sum("emails").cast("bigint").alias("n_emails"),
            F.sum("phones").cast("bigint").alias("n_phones"),
            F.sum("ipv4s").cast("bigint").alias("n_ipv4"),
            F.sum("card_candidates").cast("bigint").alias("n_card_candidates"),
            F.sum("cards_luhn_valid").cast("bigint").alias("n_cards_luhn_valid"),
        )
        .select(
            "*",
            F.round(F.col("docs_with_pii") / F.col("n_docs"), 6).alias("pii_doc_share"),
        )
        .orderBy("source")
    )


PII_SCAN_SQL = r"""
WITH aug AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' card 4' || lpad(CAST((doc_id * 271828) % 1000000000000000 AS VARCHAR), 15, '0') ELSE '' END
         || CASE WHEN doc_id % 17 = 0
                 THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(CAST(floor(doc_id / 256) AS BIGINT) % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 200 + 1 AS VARCHAR) ELSE '' END AS t
  FROM documents),
hits AS (
  SELECT source,
         len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS emails,
         len(regexp_extract_all(t, '555-[0-9]{4}-[0-9]{4}')) AS phones,
         len(regexp_extract_all(t, '10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS ipv4s,
         regexp_extract_all(t, '[0-9]{16}') AS cards
  FROM aug),
scored AS (
  SELECT source, emails, phones, ipv4s,
         len(cards) AS card_candidates,
         coalesce(list_sum(list_transform(cards, c -> CASE WHEN
           list_sum(list_transform(generate_series(1, 16), i -> CASE
             WHEN i % 2 = 0
             THEN CASE WHEN CAST(c[17 - i] AS INT) * 2 > 9
                       THEN CAST(c[17 - i] AS INT) * 2 - 9
                       ELSE CAST(c[17 - i] AS INT) * 2 END
             ELSE CAST(c[17 - i] AS INT) END)) % 10 = 0
           THEN 1 ELSE 0 END)), 0) AS cards_luhn_valid
  FROM hits)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN emails + phones + ipv4s + card_candidates > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii,
       sum(emails)::BIGINT AS n_emails,
       sum(phones)::BIGINT AS n_phones,
       sum(ipv4s)::BIGINT AS n_ipv4,
       sum(card_candidates)::BIGINT AS n_card_candidates,
       sum(cards_luhn_valid)::BIGINT AS n_cards_luhn_valid,
       round(sum(CASE WHEN emails + phones + ipv4s + card_candidates > 0 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS pii_doc_share
FROM scored
GROUP BY source
ORDER BY source
"""


def cdc_chunk_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/backup-dedup trick
    applied to corpus text): a chunk boundary falls BEFORE token i
    wherever h(token_{i-1}, token_i) ≡ 0 (mod 8) — boundaries depend
    only on local content, so an insertion reshuffles one chunk, not
    every downstream fixed-width chunk (the failure mode of stride
    chunking that CDC exists to fix). Chunks are fingerprinted and
    deduplicated cross-doc; the per-source report gives chunk-count,
    mean width (expected ≈ the modulus, 8), and the duplicate-chunk
    rate — the substring-level redundancy signal at chunk granularity.

    100 TB: boundary detection is a per-doc lag + running-sum window
    (doc_id-partitioned, never global); chunk assembly is one
    (doc, chunk) aggregate ordered by position; the dedup census is
    one fingerprint hash-aggregate. Three doc/fp-keyed shuffles, all
    with map-side combine."""
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", "source", F.posexplode(_words()).alias("pos", "token")
    )
    dw = W.partitionBy("doc_id").orderBy("pos")
    h16 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lag("token", 1).over(dw), F.col("token"))), 1, 4
        ),
        16,
        10,
    ).cast("bigint")
    flagged = toks.select(
        "doc_id",
        "source",
        "pos",
        "token",
        F.when(F.lag("token", 1).over(dw).isNull(), F.lit(0))
        .when(h16 % 8 == 0, F.lit(1))
        .otherwise(F.lit(0))
        .alias("boundary"),
    )
    chunked = flagged.withColumn("chunk_id", F.sum("boundary").over(dw))
    chunks = chunked.groupBy("doc_id", "source", "chunk_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
            )
        ).alias("fp"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_chunks"),
            F.round(F.avg("n_tokens"), 4).alias("mean_chunk_tokens"),
            F.countDistinct("fp").cast("bigint").alias("distinct_chunks"),
            F.round(F.lit(1.0) - F.countDistinct("fp") / F.count("*"), 6).alias(
                "dup_chunk_rate"
            ),
        )
        .orderBy("source")
    )


CDC_CHUNK_SQL = r"""
WITH toks AS (
  SELECT doc_id, source, i AS pos, w[i] AS token,
         CASE WHEN i = 1 THEN NULL ELSE w[i - 1] END AS prev
  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
flagged AS (
  SELECT doc_id, source, pos, token,
         CASE WHEN prev IS NULL THEN 0
              WHEN (((strpos('0123456789abcdef', md5(prev || ':' || token)[1]) - 1) * 4096
                   + (strpos('0123456789abcdef', md5(prev || ':' || token)[2]) - 1) * 256
                   + (strpos('0123456789abcdef', md5(prev || ':' || token)[3]) - 1) * 16
                   + (strpos('0123456789abcdef', md5(prev || ':' || token)[4]) - 1)) % 8) = 0
              THEN 1 ELSE 0 END AS boundary
  FROM toks),
chunked AS (
  SELECT doc_id, source, pos, token,
         sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
  FROM flagged),
chunks AS (
  SELECT doc_id, source, chunk_id,
         count(*)::BIGINT AS n_tokens,
         md5(string_agg(token, ' ' ORDER BY pos)) AS fp
  FROM chunked GROUP BY doc_id, source, chunk_id)
SELECT source,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_chunks,
       round(avg(n_tokens), 4) AS mean_chunk_tokens,
       count(DISTINCT fp)::BIGINT AS distinct_chunks,
       round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 6) AS dup_chunk_rate
FROM chunks
GROUP BY source
ORDER BY source
"""


def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-pipeline pass that
    collapses the same page crawled under cosmetic URL variants:
    case-folded scheme/host, stripped `www.`, dropped tracking params
    (`utm_*`, `ref`), dropped fragments, stripped trailing slashes.
    The corpus carries no URLs, so a deterministic doc_id-keyed
    fixture appends one per doc — 5 cosmetic variants over a shared
    page space (mirrored exactly in the oracle), giving known dup
    groups; the operator under test is the canonicalizer. Output per
    source: raw-vs-canonical distinct counts, the collapse ratio, and
    the largest canonical group.

    100 TB: extraction + canonicalization is a fused chain of regexp
    projections — stateless, codegen'd, one text pass; the census is
    one (source, canonical) aggregate then one (source) aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    h = lambda salt, mod: (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), did.cast("string"))), 1, 4), 16, 10)
        .cast("bigint") % mod
    )
    page = h("u:", 8).cast("string")
    variant = h("v:", 5).cast("int")
    raw = (
        F.when(variant == 0, F.concat(F.lit("http://example.com/page/"), page))
        .when(variant == 1, F.concat(F.lit("HTTP://EXAMPLE.COM/page/"), page))
        .when(
            variant == 2,
            F.concat(F.lit("http://example.com/page/"), page, F.lit("?utm_source=x&utm_medium=y")),
        )
        .when(variant == 3, F.concat(F.lit("http://example.com/page/"), page, F.lit("/#frag")))
        .otherwise(F.concat(F.lit("http://www.example.com/page/"), page, F.lit("?ref=abc")))
    )
    rawc = F.col("raw")
    scheme_host = F.regexp_replace(
        F.lower(F.regexp_extract(rawc, r"^[a-zA-Z]+://[^/]+", 0)), r"^(https?://)www\.", r"$1"
    )
    rest = F.expr("substring(raw, length(regexp_extract(raw, '^[a-zA-Z]+://[^/]+', 0)) + 1)")
    cleaned = F.regexp_replace(
        F.regexp_replace(rest, r"#.*$", ""), r"[?&](utm_[a-z]+|ref)=[^&#]*", ""
    )
    canonical = F.concat(scheme_host, F.regexp_replace(cleaned, r"/+$", ""))
    urls = docs.select("source", raw.alias("raw")).select(
        "source", "raw", canonical.alias("canonical")
    )
    groups = urls.groupBy("source", "canonical").agg(F.count("*").alias("group_size"))
    return (
        urls.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.countDistinct("raw").cast("bigint").alias("distinct_raw"),
            F.countDistinct("canonical").cast("bigint").alias("distinct_canonical"),
        )
        .join(
            groups.groupBy("source").agg(
                F.max("group_size").cast("bigint").alias("max_group_size")
            ),
            "source",
        )
        .select(
            "source",
            "n_urls",
            "distinct_raw",
            "distinct_canonical",
            F.round(F.lit(1.0) - F.col("distinct_canonical") / F.col("distinct_raw"), 6).alias(
                "collapse_ratio"
            ),
            "max_group_size",
        )
        .orderBy("source")
    )


URL_CANON_SQL = r"""
WITH raw_urls AS (
  SELECT source,
         CASE hv % 5
           WHEN 0 THEN 'http://example.com/page/' || (hu % 8)
           WHEN 1 THEN 'HTTP://EXAMPLE.COM/page/' || (hu % 8)
           WHEN 2 THEN 'http://example.com/page/' || (hu % 8) || '?utm_source=x&utm_medium=y'
           WHEN 3 THEN 'http://example.com/page/' || (hu % 8) || '/#frag'
           ELSE 'http://www.example.com/page/' || (hu % 8) || '?ref=abc'
         END AS raw
  FROM (SELECT source,
               ((strpos('0123456789abcdef', md5('u:' || CAST(doc_id AS VARCHAR))[1]) - 1) * 4096
              + (strpos('0123456789abcdef', md5('u:' || CAST(doc_id AS VARCHAR))[2]) - 1) * 256
              + (strpos('0123456789abcdef', md5('u:' || CAST(doc_id AS VARCHAR))[3]) - 1) * 16
              + (strpos('0123456789abcdef', md5('u:' || CAST(doc_id AS VARCHAR))[4]) - 1)) AS hu,
               ((strpos('0123456789abcdef', md5('v:' || CAST(doc_id AS VARCHAR))[1]) - 1) * 4096
              + (strpos('0123456789abcdef', md5('v:' || CAST(doc_id AS VARCHAR))[2]) - 1) * 256
              + (strpos('0123456789abcdef', md5('v:' || CAST(doc_id AS VARCHAR))[3]) - 1) * 16
              + (strpos('0123456789abcdef', md5('v:' || CAST(doc_id AS VARCHAR))[4]) - 1)) AS hv
        FROM documents)),
canon AS (
  SELECT source, raw,
         regexp_replace(lower(regexp_extract(raw, '^[a-zA-Z]+://[^/]+')),
                        '^(https?://)www\.', '\1')
         || regexp_replace(
              regexp_replace(
                regexp_replace(substring(raw, length(regexp_extract(raw, '^[a-zA-Z]+://[^/]+')) + 1),
                               '#.*$', ''),
                '[?&](utm_[a-z]+|ref)=[^&#]*', '', 'g'),
              '/+$', '') AS canonical
  FROM raw_urls),
groups AS (
  SELECT source, canonical, count(*) AS group_size
  FROM canon GROUP BY source, canonical)
SELECT c.source,
       count(*)::BIGINT AS n_urls,
       count(DISTINCT raw)::BIGINT AS distinct_raw,
       count(DISTINCT canonical)::BIGINT AS distinct_canonical,
       round(1.0 - count(DISTINCT canonical) / CAST(count(DISTINCT raw) AS DOUBLE), 6) AS collapse_ratio,
       (SELECT CAST(max(group_size) AS BIGINT) FROM groups g WHERE g.source = c.source) AS max_group_size
FROM canon c
GROUP BY c.source
ORDER BY c.source
"""


def quantile_normalize_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of the rule-based quality
    score — the batch-effect correction applied before one threshold
    gates a multi-source corpus (each crawler's quality distribution
    is shifted; normalizing maps every source onto the GLOBAL
    distribution so 'top 20%' means the same thing everywhere). Each
    doc gets its within-source percent-rank, then the global quality
    value at that rank from a 101-point quantile grid. Per-source
    report: mean before/after and the after-spread contract — source
    means converge onto the global distribution.

    100 TB: the within-source rank is a source-partitioned window;
    the global grid is ONE percentile aggregate (the approx_percentile
    swap is the documented 100 TB variant) broadcast as a 101-element
    array; the mapping is element_at — no join."""
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    q = docs.select("source", quality_col().alias("q"))
    r = F.percent_rank().over(W.partitionBy("source").orderBy("q"))
    grid = q.agg(
        F.percentile("q", F.array(*[F.lit(i / 100.0) for i in range(101)])).alias("g")
    )
    mapped = (
        q.withColumn("r", r)
        .crossJoin(F.broadcast(grid))
        .select(
            "source",
            "q",
            F.element_at(F.col("g"), (F.round(F.col("r") * 100) + 1).cast("int")).alias(
                "q_norm"
            ),
        )
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("q"), 6).alias("mean_before"),
            F.round(F.avg("q_norm"), 6).alias("mean_after"),
        )
        .orderBy("source")
    )


QUANTILE_NORM_SQL = f"""
WITH q AS (
  SELECT source, {_QUALITY_EXPR_SQL} AS q
  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)),
grid AS (
  SELECT quantile_cont(q, [{", ".join(str(i / 100.0) for i in range(101))}]) AS g FROM q),
ranked AS (
  SELECT source, q,
         percent_rank() OVER (PARTITION BY source ORDER BY q) AS r
  FROM q),
mapped AS (
  SELECT source, q, g[CAST(round(r * 100) + 1 AS INT)] AS q_norm
  FROM ranked CROSS JOIN grid)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg(q), 6) AS mean_before,
       round(avg(q_norm), 6) AS mean_after
FROM mapped
GROUP BY source
ORDER BY source
"""


def judge_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-judge agreement (Cohen's κ) between two rule-based
    quality judges — the calibration every LLM-judge eval pipeline
    owes its readers, since raw agreement flatters chance: judge A
    passes docs above the global median rule-quality score
    (quality_col), judge B passes docs with below-median top-unigram
    mass (the repetition detector's signal). κ = (p_o − p_e)/(1 − p_e)
    per source, with the Landis-Koch band label.

    100 TB: both judges are stateless projections against two
    broadcast global medians (approx_percentile at scale); κ runs on
    the O(sources) 2×2 confusion aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(_norm_text(), " ")
    top_mass = (
        docs.select("doc_id", "source", F.explode(w).alias("t"))
        .groupBy("doc_id", "source", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id", "source")
        .agg((F.max("c") / F.sum("c")).alias("top_mass"))
    )
    per_doc = (
        docs.select("doc_id", quality_col().alias("q"))
        .join(top_mass, "doc_id")
        .localCheckpoint()
    )
    med = per_doc.agg(
        F.percentile("q", F.lit(0.5)).alias("mq"),
        F.percentile("top_mass", F.lit(0.5)).alias("mt"),
    )
    judged = per_doc.crossJoin(F.broadcast(med)).select(
        "source",
        (F.col("q") > F.col("mq")).cast("int").alias("a"),
        (F.col("top_mass") < F.col("mt")).cast("int").alias("b"),
    )
    conf = judged.groupBy("source").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n")
    pe = (F.col("na") / F.col("n")) * (F.col("nb") / F.col("n")) + (
        1 - F.col("na") / F.col("n")
    ) * (1 - F.col("nb") / F.col("n"))
    kappa = (po - pe) / (1 - pe)
    return conf.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("chance_agreement"),
        F.round(kappa, 6).alias("kappa"),
        F.when(kappa > 0.6, "substantial")
        .when(kappa > 0.2, "fair")
        .otherwise("slight")
        .alias("band"),
    ).orderBy("source")


JUDGE_KAPPA_SQL = rf"""
WITH w AS (
  SELECT doc_id, source, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks,
         string_split(text, ' ') AS qw
  FROM documents),
top_mass AS (
  SELECT doc_id, source, max(c) / CAST(sum(c) AS DOUBLE) AS top_mass
  FROM (SELECT doc_id, source, t, count(*) AS c
        FROM (SELECT doc_id, source, unnest(toks) AS t FROM w)
        GROUP BY doc_id, source, t)
  GROUP BY doc_id, source),
q AS (
  SELECT doc_id, {_QUALITY_EXPR_SQL.replace("len(w)", "len(qw)").replace("list_distinct(w)", "list_distinct(qw)")} AS q
  FROM (SELECT doc_id, qw AS w, qw FROM w)),
per_doc AS (
  SELECT t.doc_id, t.source, q.q, t.top_mass
  FROM top_mass t JOIN q USING (doc_id)),
med AS (
  SELECT quantile_cont(q, 0.5) AS mq, quantile_cont(top_mass, 0.5) AS mt FROM per_doc),
judged AS (
  SELECT source,
         CASE WHEN q > mq THEN 1 ELSE 0 END AS a,
         CASE WHEN top_mass < mt THEN 1 ELSE 0 END AS b
  FROM per_doc CROSS JOIN med),
conf AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n,
         sum(a * b) AS n11, sum((1 - a) * (1 - b)) AS n00,
         sum(a) AS na, sum(b) AS nb
  FROM judged GROUP BY source)
SELECT source, CAST(n AS BIGINT) AS n_docs,
       round((n11 + n00) / n, 6) AS observed_agreement,
       round((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n), 6) AS chance_agreement,
       round(((n11 + n00) / n - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n)))
             / (1 - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n))), 6) AS kappa,
       CASE WHEN ((n11 + n00) / n - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n)))
                 / (1 - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n))) > 0.6 THEN 'substantial'
            WHEN ((n11 + n00) / n - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n)))
                 / (1 - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n))) > 0.2 THEN 'fair'
            ELSE 'slight' END AS band
FROM conf
ORDER BY source
"""


def uncertainty_margin_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning margin sampling — the labeling-budget
    allocator: with the rule-quality score as the model confidence
    and its global median as the decision boundary, the docs WORTH a
    human label are the ones nearest the boundary (maximal
    disagreement, minimal margin). Per source: the margin
    distribution and the count inside the 10%-band 'send to
    labeling' window — plus the window's doc share, which is the
    labeling spend this policy commits.

    100 TB: the boundary is one broadcast median (approx_percentile
    at scale); margins are a stateless projection; the census one
    source aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select("source", quality_col().alias("q")).localCheckpoint()
    med = scored.agg(F.percentile("q", F.lit(0.5)).alias("m"))
    margins = scored.crossJoin(F.broadcast(med)).select(
        "source", F.abs(F.col("q") - F.col("m")).alias("margin")
    )
    return (
        margins.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("margin"), 6).alias("mean_margin"),
            F.sum((F.col("margin") <= 0.05).cast("int")).cast("bigint").alias("n_to_label"),
            F.round(F.avg((F.col("margin") <= 0.05).cast("double")), 6).alias("label_share"),
        )
        .orderBy("source")
    )


UNCERTAINTY_SQL = f"""
WITH scored AS (
  SELECT source, {_QUALITY_EXPR_SQL} AS q
  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)),
med AS (SELECT quantile_cont(q, 0.5) AS m FROM scored),
margins AS (
  SELECT source, abs(q - m) AS margin FROM scored CROSS JOIN med)
SELECT source,
       count(*)::BIGINT AS n_docs,
       round(avg(margin), 6) AS mean_margin,
       sum(CASE WHEN margin <= 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_to_label,
       round(avg(CASE WHEN margin <= 0.05 THEN 1.0 ELSE 0.0 END), 6) AS label_share
FROM margins
GROUP BY source
ORDER BY source
"""


def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale token burstiness: per token, the variance-to-mean
    ratio (VMR) of its per-document count over ALL documents
    (zero-inflated) — VMR ≈ 1 is Poisson background ('the'),
    VMR ≫ 1 is a bursty content word that concentrates in few docs.
    Burstiness separates topical terms from function words without
    any labels, which is why it feeds stopword lists and DF-cutoff
    choices for tokenizer/vocab builds. Top 20 bursty tokens with
    df ≥ 5, all integer-exact arithmetic until the final division.

    100 TB: explode → (token, doc) count → per-token (df, Σc, Σc²)
    is two partial-aggregated shuffles of integer triples; the doc
    total N is a broadcast scalar; top-k is TakeOrdered."""
    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(_norm_text()), " ")).alias("t")
    ).where(F.length("t") > 0)
    per_doc = toks.groupBy("t", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    per_tok = per_doc.groupBy("t").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    j = per_tok.crossJoin(F.broadcast(n_docs))
    mean = F.col("s1") / F.col("n_docs")
    vmr = (F.col("s2") / F.col("n_docs") - mean * mean) / mean
    return (
        j.where(F.col("df") >= 5)
        .select(
            F.col("t").alias("token"),
            "df",
            F.col("s1").alias("tf"),
            F.round(vmr, 6).alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), "token")
        .limit(20)
    )


TOKEN_BURSTINESS_SQL = """
WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
toks AS (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS t
  FROM documents),
per_doc AS (
  SELECT t, doc_id, count(*) AS c FROM toks WHERE len(t) > 0 GROUP BY t, doc_id),
per_tok AS (
  SELECT t, count(*) AS df, sum(c) AS s1, sum(c * c) AS s2
  FROM per_doc GROUP BY t)
SELECT t AS token,
       CAST(df AS BIGINT) AS df,
       CAST(s1 AS BIGINT) AS tf,
       round((s2 / n.n_docs - (s1 / n.n_docs) * (s1 / n.n_docs)) / (s1 / n.n_docs), 6)
         AS burstiness
FROM per_tok CROSS JOIN n
WHERE df >= 5
ORDER BY burstiness DESC, token
LIMIT 20
"""


def dsir_ess_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-sample-size audit of the DSIR importance weights —
    the resampling-health check that must precede any importance-
    weighted mixture: per source, ESS = (Σw)²/Σw² over w =
    exp(mean log-ratio) of the docs' hashed-bigram features (the
    exact dsir_importance_weights scoring, audited in aggregate
    instead of top-k). ESS/n near 1 means the reweighting is mild;
    near 0 means a few docs dominate and the resample will collapse
    onto them.

    100 TB: same single bigram pass + 256-row broadcast as DSIR
    itself; the audit adds only a per-source 3-number aggregate."""
    B = 256
    docs = load_table(spark, "documents", sf_dir)
    d = docs.withColumn("w", F.split(F.lower(_norm_text()), " "))
    grams = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, greatest(size(w) - 2, 0)),"
                " i -> concat(get(w, i), ' ', get(w, i + 1)))"
            )
        ).alias("g"),
    ).where(F.col("g").isNotNull())
    feats = grams.select(
        "doc_id",
        "lang",
        "source",
        (F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint") % B).alias("f"),
    ).localCheckpoint()
    target = feats.where(F.col("lang") == "en").groupBy("f").agg(F.count("*").alias("ct"))
    raw = feats.groupBy("f").agg(F.count("*").alias("cr"))
    totals = feats.agg(
        F.count("*").alias("nr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("nt"),
    )
    logratio = (
        raw.join(target, "f", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "f",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + B))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + B))
            ).alias("lr"),
        )
    )
    wdoc = (
        feats.join(F.broadcast(logratio), "f")
        .groupBy("doc_id", "source")
        .agg(F.exp(F.avg("lr")).alias("w"))
    )
    ess = F.sum("w") * F.sum("w") / F.sum(F.col("w") * F.col("w"))
    return (
        wdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(ess, 6).alias("ess"),
            F.round(ess / F.count(F.lit(1)), 6).alias("ess_ratio"),
        )
        .orderBy("source")
    )


DSIR_ESS_SQL = r"""
WITH d AS (
  SELECT doc_id, lang, source,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), grams AS (
  SELECT doc_id, lang, source,
         unnest(list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                               i -> w[i] || ' ' || w[i + 1])) AS g
  FROM d
), feats AS (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS f
  FROM grams WHERE g IS NOT NULL
), target AS (SELECT f, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY f),
raw AS (SELECT f, count(*) AS cr FROM feats GROUP BY f),
nt AS (SELECT count(*) AS n FROM feats WHERE lang = 'en'),
nr AS (SELECT count(*) AS n FROM feats),
logratio AS (
  SELECT raw.f,
         ln((coalesce(ct, 0) + 1.0) / (nt.n + 256)) - ln((cr + 1.0) / (nr.n + 256)) AS lr
  FROM raw LEFT JOIN target ON raw.f = target.f, nt, nr),
wdoc AS (
  SELECT doc_id, source, exp(avg(lr)) AS w
  FROM feats JOIN logratio USING (f)
  GROUP BY doc_id, source)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(w) * sum(w) / sum(w * w), 6) AS ess,
       round(sum(w) * sum(w) / sum(w * w) / count(*), 6) AS ess_ratio
FROM wdoc
GROUP BY source
ORDER BY source
"""


def capture_recapture_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman) estimate of the corpus's TRUE
    distinct word-3-gram vocabulary from two disjoint source halves —
    the 'how much unseen content remains' estimator used to decide
    whether another crawl is worth it: capture A = sources 0-9,
    capture B = sources 10-19, N̂ = (n_A+1)(n_B+1)/(m+1) − 1 where m
    is the shingle overlap. The true total (computable here, not at
    a real frontier) is emitted alongside with the estimator's
    relative error, so the entry doubles as a bias audit of the
    closed-population assumption on real text.

    100 TB: distinct-shingle sets per half are two hash aggregates
    over the shingle key; the overlap is one equi-join on md5 keys.
    Each half's set is never collected — counts only."""
    docs = load_table(spark, "documents", sf_dir)
    half = (
        F.regexp_replace("source", "src", "").cast("int") < 10
    ).alias("is_a")
    w = F.split(F.lower(_norm_text()), " ")
    # Docs with <3 tokens carry no 3-gram: gate BEFORE the transform —
    # concat_ws skips NULLs, so an ungated i=0 row would emit a bogus
    # 1-/2-token shingle here while the DuckDB twin's `||` yields NULL
    # and drops it (latent oracle divergence on short docs).
    sh = (
        docs.withColumn("w", w)
        .where(F.size("w") >= 3)
        .select(
            half,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 3),"
                    " i -> concat_ws(' ', get(w, i), get(w, i + 1), get(w, i + 2)))"
                )
            ).alias("g"),
        )
        .where(F.col("g").isNotNull() & (F.length("g") > 0))
    )
    per = sh.groupBy("g").agg(
        F.max(F.col("is_a").cast("int")).alias("in_a"),
        F.max((~F.col("is_a")).cast("int")).alias("in_b"),
    )
    res = per.agg(
        F.sum("in_a").cast("double").alias("n_a"),
        F.sum("in_b").cast("double").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("double").alias("m"),
        F.count(F.lit(1)).alias("true_total"),
    )
    est = (F.col("n_a") + 1) * (F.col("n_b") + 1) / (F.col("m") + 1) - 1
    return res.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("m").cast("bigint").alias("overlap"),
        F.round(est, 2).alias("est_total"),
        "true_total",
        F.round((est - F.col("true_total")) / F.col("true_total"), 6).alias("rel_error"),
    )


CAPTURE_RECAPTURE_SQL = r"""
WITH d AS (
  SELECT CAST(replace(source, 'src', '') AS INT) < 10 AS is_a,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents),
sh AS (
  SELECT is_a,
         unnest(list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
  FROM d WHERE len(w) >= 3),
ok AS (SELECT is_a, g FROM sh WHERE g IS NOT NULL AND len(g) > 0),
per AS (
  SELECT g, max(CASE WHEN is_a THEN 1 ELSE 0 END) AS in_a,
            max(CASE WHEN is_a THEN 0 ELSE 1 END) AS in_b
  FROM ok GROUP BY g),
res AS (
  SELECT CAST(sum(in_a) AS DOUBLE) AS n_a,
         CAST(sum(in_b) AS DOUBLE) AS n_b,
         CAST(sum(in_a * in_b) AS DOUBLE) AS m,
         count(*) AS true_total
  FROM per)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(m AS BIGINT) AS overlap,
       round((n_a + 1) * (n_b + 1) / (m + 1) - 1, 2) AS est_total,
       CAST(true_total AS BIGINT) AS true_total,
       round(((n_a + 1) * (n_b + 1) / (m + 1) - 1 - true_total) / true_total, 6)
         AS rel_error
FROM res
"""


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K·N^β across sources: each source
    contributes one (ln N, ln V) point (N tokens, V distinct tokens)
    and a log-log OLS gives the vocabulary growth exponent β — the
    corpus statistic that predicts how vocabulary (and tokenizer OOV
    pressure) grows as the corpus scales, the planning companion to
    token_zipf_fit (Zipf describes frequency SHAPE; Heaps predicts
    vocabulary GROWTH).

    100 TB: one explode + per-source (count, count-distinct)
    aggregate; the regression runs over #sources points — a 1-row
    reduction."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.lower(_norm_text()), " ")).alias("t")
    ).where(F.length("t") > 0)
    per = toks.groupBy("source").agg(
        F.log(F.count(F.lit(1)).cast("double")).alias("x"),
        F.log(F.countDistinct("t").cast("double")).alias("y"),
    )
    res = per.agg(
        F.count(F.lit(1)).cast("double").alias("k_pts"),
        F.avg("x").alias("xbar"),
        F.avg("y").alias("ybar"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_raw"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_raw"),
        F.sum(F.col("y") * F.col("y")).alias("syy_raw"),
    )
    sxx = F.col("sxx_raw") - F.col("k_pts") * F.col("xbar") * F.col("xbar")
    sxy = F.col("sxy_raw") - F.col("k_pts") * F.col("xbar") * F.col("ybar")
    syy = F.col("syy_raw") - F.col("k_pts") * F.col("ybar") * F.col("ybar")
    beta = sxy / sxx
    return res.select(
        F.col("k_pts").cast("bigint").alias("n_sources"),
        F.round(beta, 6).alias("beta"),
        F.round(F.exp(F.col("ybar") - beta * F.col("xbar")), 4).alias("k_coef"),
        F.round(sxy * sxy / (sxx * syy), 6).alias("r2"),
    )


HEAPS_LAW_SQL = r"""
WITH toks AS (
  SELECT source,
         unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS t
  FROM documents),
per AS (
  SELECT source, ln(CAST(count(*) AS DOUBLE)) AS x,
         ln(CAST(count(DISTINCT t) AS DOUBLE)) AS y
  FROM toks WHERE len(t) > 0 GROUP BY source),
res AS (
  SELECT CAST(count(*) AS DOUBLE) AS k_pts, avg(x) AS xbar, avg(y) AS ybar,
         sum(x * x) AS sxx_raw, sum(x * y) AS sxy_raw, sum(y * y) AS syy_raw
  FROM per)
SELECT CAST(k_pts AS BIGINT) AS n_sources,
       round((sxy_raw - k_pts * xbar * ybar) / (sxx_raw - k_pts * xbar * xbar), 6) AS beta,
       round(exp(ybar - (sxy_raw - k_pts * xbar * ybar)
                        / (sxx_raw - k_pts * xbar * xbar) * xbar), 4) AS k_coef,
       round((sxy_raw - k_pts * xbar * ybar) * (sxy_raw - k_pts * xbar * ybar)
             / ((sxx_raw - k_pts * xbar * xbar) * (syy_raw - k_pts * ybar * ybar)), 6)
         AS r2
FROM res
"""


def context_overflow_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window overflow audit per source: for window sizes
    512/2048/8192 (whitespace tokens), the share of docs that exceed
    each window and the share of total TOKENS lost to right-truncation
    — the packing/serving planning numbers that decide chunking
    policy (doc-level loss says how many docs need chunking; token-
    level loss says how much corpus a naive truncate throws away).

    100 TB: one token-count projection (no explode — size(split)),
    one per-source aggregate; windows are constants."""
    docs = load_table(spark, "documents", sf_dir)
    n = F.size(F.split(_norm_text(), " ")).cast("double")
    d = docs.select("source", n.alias("n"))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens")]
    for wlen in (512, 2048, 8192):
        aggs.append(
            F.round(F.avg((F.col("n") > wlen).cast("double")), 6).alias(f"doc_overflow_{wlen}")
        )
        aggs.append(
            F.round(
                F.sum(F.greatest(F.col("n") - wlen, F.lit(0.0))) / F.sum("n"), 6
            ).alias(f"token_loss_{wlen}")
        )
    return d.groupBy("source").agg(*aggs).orderBy("source")


CONTEXT_OVERFLOW_SQL = r"""
WITH d AS (
  SELECT source,
         CAST(len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
              AS DOUBLE) AS n
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       round(avg(CASE WHEN n > 512 THEN 1.0 ELSE 0.0 END), 6) AS doc_overflow_512,
       round(sum(greatest(n - 512, 0.0)) / sum(n), 6) AS token_loss_512,
       round(avg(CASE WHEN n > 2048 THEN 1.0 ELSE 0.0 END), 6) AS doc_overflow_2048,
       round(sum(greatest(n - 2048, 0.0)) / sum(n), 6) AS token_loss_2048,
       round(avg(CASE WHEN n > 8192 THEN 1.0 ELSE 0.0 END), 6) AS doc_overflow_8192,
       round(sum(greatest(n - 8192, 0.0)) / sum(n), 6) AS token_loss_8192
FROM d
GROUP BY source
ORDER BY source
"""


def spell_candidates_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell-style spelling-variant candidates over the corpus
    vocabulary: every token (df ≥ 3, len ≥ 4) generates its
    single-character DELETION variants; two tokens whose variant sets
    intersect are edit-distance-≤2 candidates, verified with exact
    levenshtein = 1 — the deletion-hash blocking that replaces the
    O(V²) all-pairs edit-distance scan (the same blocking idea the
    LSH band key applies to documents, here at token granularity).
    Top 20 pairs by combined frequency — in a corpus pipeline these
    are typo-normalization merge candidates.

    100 TB: vocabulary-scale (≪ corpus); deletions explode ≤ len
    variants per token; candidates materialize only via the variant
    equi-join; levenshtein runs on the candidate pairs alone."""
    docs = load_table(spark, "documents", sf_dir)
    vocab = (
        docs.select(F.explode(F.split(F.lower(_norm_text()), " ")).alias("t"))
        .where(F.length("t") >= 4)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("tf"))
        .where(F.col("tf") >= 3)
    )
    dels = vocab.select(
        "t",
        "tf",
        F.explode(
            F.expr(
                "transform(sequence(1, length(t)),"
                " i -> concat(substring(t, 1, i - 1), substring(t, i + 1, length(t))))"
            )
        ).alias("v"),
    ).distinct()
    a = dels.select(F.col("t").alias("t_a"), F.col("tf").alias("tf_a"), "v")
    b = dels.select(F.col("t").alias("t_b"), F.col("tf").alias("tf_b"), "v")
    pairs = (
        a.join(b, "v")
        .where(F.col("t_a") < F.col("t_b"))
        .select("t_a", "tf_a", "t_b", "tf_b")
        .distinct()
        .where(F.levenshtein("t_a", "t_b") == 1)
    )
    return (
        pairs.select(
            "t_a",
            "t_b",
            F.col("tf_a").cast("bigint").alias("tf_a"),
            F.col("tf_b").cast("bigint").alias("tf_b"),
            (F.col("tf_a") + F.col("tf_b")).cast("bigint").alias("combined_tf"),
        )
        .orderBy(F.col("combined_tf").desc(), "t_a", "t_b")
        .limit(20)
    )


SYMSPELL_SQL = r"""
WITH vocab AS (
  SELECT t, count(*) AS tf
  FROM (SELECT unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
  WHERE len(t) >= 4
  GROUP BY t
  HAVING count(*) >= 3),
dels AS (
  SELECT DISTINCT t, tf,
         unnest(list_transform(generate_series(1, len(t)),
                               i -> substr(t, 1, i - 1) || substr(t, i + 1))) AS v
  FROM vocab),
pairs AS (
  SELECT DISTINCT a.t AS t_a, a.tf AS tf_a, b.t AS t_b, b.tf AS tf_b
  FROM dels a JOIN dels b USING (v)
  WHERE a.t < b.t)
SELECT t_a, t_b,
       CAST(tf_a AS BIGINT) AS tf_a,
       CAST(tf_b AS BIGINT) AS tf_b,
       CAST(tf_a + tf_b AS BIGINT) AS combined_tf
FROM pairs
WHERE levenshtein(t_a, t_b) = 1
ORDER BY combined_tf DESC, t_a, t_b
LIMIT 20
"""


def best_of_n_quality_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-N selection uplift, estimated without simulation: docs
    are dealt into deterministic groups of 4 within each source (md5
    ordering — a stable stand-in for 'N candidates per prompt'), the
    quality score is the distinct-token ratio, and the uplift is
    E[max of 4] − E[single] over the group maxima — the
    quantitative answer to 'what does sampling 4× and keeping the
    best buy us', per source. Full groups only (a trailing partial
    group would bias the max downward).

    100 TB: ranking is a source-partitioned window on a stable hash
    (per-partition heaps); the rest is two aggregates."""
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(F.lower(_norm_text()), " ")
    q = (F.size(F.array_distinct(w)) / F.size(w)).alias("q")
    scored = docs.select(
        "source",
        "doc_id",
        q,
        F.md5(F.concat(F.lit("bon:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    from pyspark.sql import Window as W

    ranked = scored.withColumn(
        "grp",
        ((F.row_number().over(W.partitionBy("source").orderBy("h", "doc_id")) - 1) / 4)
        .cast("int"),
    )
    full = ranked.groupBy("source", "grp").agg(
        F.count(F.lit(1)).alias("n_in_grp"),
        F.max("q").alias("max_q"),
        F.avg("q").alias("mean_q_grp"),
    ).where(F.col("n_in_grp") == 4)
    return (
        full.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.round(F.avg("mean_q_grp"), 6).alias("mean_quality"),
            F.round(F.avg("max_q"), 6).alias("bon4_quality"),
            F.round(F.avg("max_q") - F.avg("mean_q_grp"), 6).alias("uplift"),
        )
        .orderBy("source")
    )


BEST_OF_N_SQL = r"""
WITH scored AS (
  SELECT source, doc_id,
         len(list_distinct(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')))
           * 1.0
           / len(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS q,
         md5('bon:' || doc_id::VARCHAR) AS h
  FROM documents),
ranked AS (
  SELECT *, CAST(floor((row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1) / 4)
                 AS INT) AS grp
  FROM scored),
grps AS (
  SELECT source, grp, count(*) AS n_in_grp, max(q) AS max_q, avg(q) AS mean_q_grp
  FROM ranked GROUP BY source, grp
  HAVING count(*) = 4)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_groups,
       round(avg(mean_q_grp), 6) AS mean_quality,
       round(avg(max_q), 6) AS bon4_quality,
       round(avg(max_q) - avg(mean_q_grp), 6) AS uplift
FROM grps
GROUP BY source
ORDER BY source
"""


def fightin_words_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe et al. 'Fightin' Words' informative-Dirichlet log-odds:
    which tokens most distinguish English from non-English documents,
    as the z-score of the log-odds-ratio difference with the corpus
    itself as the Dirichlet prior (α₀ = 500 pseudo-counts spread by
    corpus frequency) — the statistically-sound replacement for raw
    TF-IDF deltas when comparing subcorpora (prior damps rare-token
    noise; the variance term calibrates). Top 15 tokens by |z|,
    df ≥ 5 in each side.

    100 TB: three token aggregates (en, rest, corpus prior) joined on
    the token key — vocabulary-scale tables, word-count shapes."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        (F.col("lang") == "en").alias("is_en"),
        F.explode(F.split(F.lower(_norm_text()), " ")).alias("t"),
    ).where(F.length("t") > 0)
    cnt = toks.groupBy("t").agg(
        F.sum(F.col("is_en").cast("long")).alias("c_en"),
        F.sum((~F.col("is_en")).cast("long")).alias("c_rest"),
    )
    tot = cnt.agg(
        F.sum("c_en").cast("double").alias("n_en"),
        F.sum("c_rest").cast("double").alias("n_rest"),
        F.sum(F.col("c_en") + F.col("c_rest")).cast("double").alias("n_all"),
    )
    a0 = 500.0
    j = cnt.crossJoin(F.broadcast(tot)).withColumn(
        "alpha", a0 * (F.col("c_en") + F.col("c_rest")) / F.col("n_all")
    )
    lo_en = F.log(
        (F.col("c_en") + F.col("alpha"))
        / (F.col("n_en") + a0 - F.col("c_en") - F.col("alpha"))
    )
    lo_rest = F.log(
        (F.col("c_rest") + F.col("alpha"))
        / (F.col("n_rest") + a0 - F.col("c_rest") - F.col("alpha"))
    )
    var = 1.0 / (F.col("c_en") + F.col("alpha")) + 1.0 / (
        F.col("c_rest") + F.col("alpha")
    )
    z = (lo_en - lo_rest) / F.sqrt(var)
    return (
        j.where((F.col("c_en") >= 5) & (F.col("c_rest") >= 5))
        .select(
            F.col("t").alias("token"),
            F.col("c_en").cast("bigint").alias("c_en"),
            F.col("c_rest").cast("bigint").alias("c_rest"),
            F.round(z, 6).alias("z_logodds"),
        )
        .orderBy(F.abs(F.col("z_logodds")).desc(), "token")
        .limit(15)
    )


FIGHTIN_WORDS_SQL = r"""
WITH toks AS (
  SELECT lang = 'en' AS is_en,
         unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS t
  FROM documents),
cnt AS (
  SELECT t,
         sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS c_en,
         sum(CASE WHEN is_en THEN 0 ELSE 1 END) AS c_rest
  FROM toks WHERE len(t) > 0 GROUP BY t),
tot AS (
  SELECT CAST(sum(c_en) AS DOUBLE) AS n_en,
         CAST(sum(c_rest) AS DOUBLE) AS n_rest,
         CAST(sum(c_en + c_rest) AS DOUBLE) AS n_all
  FROM cnt),
j AS (
  SELECT cnt.*, tot.n_en, tot.n_rest,
         500.0 * (c_en + c_rest) / tot.n_all AS alpha
  FROM cnt CROSS JOIN tot)
SELECT t AS token,
       CAST(c_en AS BIGINT) AS c_en,
       CAST(c_rest AS BIGINT) AS c_rest,
       round((ln((c_en + alpha) / (n_en + 500.0 - c_en - alpha))
              - ln((c_rest + alpha) / (n_rest + 500.0 - c_rest - alpha)))
             / sqrt(1.0 / (c_en + alpha) + 1.0 / (c_rest + alpha)), 6) AS z_logodds
FROM j
WHERE c_en >= 5 AND c_rest >= 5
ORDER BY abs((ln((c_en + alpha) / (n_en + 500.0 - c_en - alpha))
              - ln((c_rest + alpha) / (n_rest + 500.0 - c_rest - alpha)))
             / sqrt(1.0 / (c_en + alpha) + 1.0 / (c_rest + alpha))) DESC, token
LIMIT 15
"""


def lexical_richness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: type-token ratio, hapax
    share (vocabulary appearing exactly once — the Heaps-curve
    frontier), and Yule's K = 10⁴·(Σm²·V_m − N)/N² from the frequency
    spectrum — the length-robust repetitiveness constant (low K =
    diverse, high K = formulaic). Template/boilerplate sources jump
    out on K long before a duplicate detector fires.

    100 TB: one (source, token) count, one frequency-spectrum
    aggregate per source — word-count shapes throughout."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.lower(_norm_text()), " ")).alias("t")
    ).where(F.length("t") > 0)
    tf = toks.groupBy("source", "t").agg(F.count(F.lit(1)).alias("m"))
    return (
        tf.groupBy("source")
        .agg(
            F.sum("m").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(F.count(F.lit(1)) / F.sum("m"), 6).alias("ttr"),
            F.round(
                F.sum((F.col("m") == 1).cast("long")) / F.count(F.lit(1)), 6
            ).alias("hapax_share"),
            F.round(
                10000.0
                * (F.sum(F.col("m") * F.col("m")) - F.sum("m"))
                / (F.sum("m") * F.sum("m")),
                6,
            ).alias("yule_k"),
        )
        .orderBy("source")
    )


LEXICAL_RICHNESS_SQL = r"""
WITH toks AS (
  SELECT source,
         unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS t
  FROM documents),
tf AS (
  SELECT source, t, count(*) AS m FROM toks WHERE len(t) > 0 GROUP BY source, t)
SELECT source,
       CAST(sum(m) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(count(*) * 1.0 / sum(m), 6) AS ttr,
       round(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS hapax_share,
       round(10000.0 * (sum(m * m) - sum(m)) / (sum(m) * sum(m)), 6) AS yule_k
FROM tf
GROUP BY source
ORDER BY source
"""


def lang_trigram_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle character-trigram profile distance between the
    labeled languages: each language's top-20 char trigrams by
    frequency form its rank profile; the pairwise out-of-place
    distance (Σ |rank_a − rank_b|, missing → penalty 20) is the
    classic n-gram language-distance matrix — the calibration table
    behind n-gram language ID (language_id's markers are its
    degenerate 5-word form).

    100 TB: trigram explode → per-lang counts → top-20 via a
    lang-partitioned window; the distance join is over 4×20-row
    profiles — broadcast scale. The normalization (trim + whitespace
    collapse + lower) is projected ONCE per document before the
    trigram transform (round-8 bisect): higher-order-function lambdas
    re-evaluate their body per element, so inlining it made every
    trigram position re-run the regex over the whole text — O(len²)
    regex work per doc, 24s at sf0.1 for what is a 3s scan."""
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    norm = docs.select(
        "lang",
        F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")).alias("t"),
    )
    tri = norm.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(t) - 2, 1)),"
                " i -> substring(t, i, 3))"
            )
        ).alias("g"),
    ).where(F.length("g") == 3)
    cnt = tri.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("c"))
    ranked = cnt.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("lang").orderBy(F.col("c").desc(), "g")
        ),
    ).where(F.col("rk") <= 20)
    a = ranked.select(
        F.col("lang").alias("lang_a"), F.col("g").alias("g_a"), F.col("rk").alias("rk_a")
    )
    b = ranked.select(
        F.col("lang").alias("lang_b2"), F.col("g").alias("g_b"), F.col("rk").alias("rk_b")
    )
    # pair every lang_a profile row against lang_b's profile via the
    # shared trigram; out-of-profile trigrams cost the max rank 20
    pairs = (
        a.select("lang_a").distinct()
        .crossJoin(b.select(F.col("lang_b2").alias("lang_b")).distinct())
        .where(F.col("lang_a") < F.col("lang_b"))
    )
    dist = (
        pairs.join(a, "lang_a")
        .join(
            b,
            (F.col("lang_b") == F.col("lang_b2")) & (F.col("g_a") == F.col("g_b")),
            "left",
        )
        .groupBy("lang_a", "lang_b")
        .agg(
            F.sum(
                F.when(
                    F.col("rk_b").isNotNull(), F.abs(F.col("rk_a") - F.col("rk_b"))
                ).otherwise(F.lit(20))
            ).cast("bigint").alias("oop_distance"),
            F.sum(F.col("rk_b").isNotNull().cast("bigint")).alias("shared_trigrams"),
        )
    )
    return dist.orderBy("lang_a", "lang_b")


LANG_TRIGRAM_SQL = r"""
WITH txt AS (
  SELECT lang, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s FROM documents),
tri AS (
  SELECT lang,
         unnest(list_transform(generate_series(1, greatest(len(s) - 2, 1)),
                               i -> substr(s, i, 3))) AS g
  FROM txt),
cnt AS (
  SELECT lang, g, count(*) AS c FROM tri WHERE len(g) = 3 GROUP BY lang, g),
ranked AS (
  SELECT lang, g,
         row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rk
  FROM cnt
  QUALIFY rk <= 20),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b
  FROM (SELECT DISTINCT lang FROM ranked) a,
       (SELECT DISTINCT lang FROM ranked) b
  WHERE a.lang < b.lang)
SELECT p.lang_a, p.lang_b,
       CAST(sum(CASE WHEN bb.rk IS NOT NULL THEN abs(aa.rk - bb.rk) ELSE 20 END)
            AS BIGINT) AS oop_distance,
       CAST(sum(CASE WHEN bb.rk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_trigrams
FROM pairs p
JOIN ranked aa ON aa.lang = p.lang_a
LEFT JOIN ranked bb ON bb.lang = p.lang_b AND bb.g = aa.g
GROUP BY p.lang_a, p.lang_b
ORDER BY p.lang_a, p.lang_b
"""


def skyline_quality_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pareto skyline on (quality ↑, token cost ↓): the
    docs no other same-source doc dominates on both axes — the
    classic SKYLINE operator (missing from SQL engines; expressed
    here via the sorted running-min formulation: sort by quality
    desc, a doc is on the front iff its token count is strictly
    below the running min of all higher-quality docs). Quality is
    the distinct-token ratio; these fronts are exactly the
    'best docs per budget' curve a selection pipeline traces.

    100 TB: the window partitions by source (per-partition sort, no
    global ordering); emits front sizes + the per-source best point,
    not the full front (bounded output)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    w = F.split(F.lower(_norm_text()), " ")
    d = docs.select(
        "source",
        "doc_id",
        (F.size(F.array_distinct(w)) / F.size(w)).alias("q"),
        F.size(w).cast("double").alias("cost"),
    )
    ws = (
        W.partitionBy("source")
        .orderBy(F.col("q").desc(), F.col("cost").asc(), F.col("doc_id"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    sky = d.withColumn("min_prev_cost", F.min("cost").over(ws)).withColumn(
        "on_front",
        F.col("min_prev_cost").isNull() | (F.col("cost") < F.col("min_prev_cost")),
    )
    return (
        sky.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("on_front").cast("bigint")).alias("front_size"),
            F.round(F.max(F.when(F.col("on_front"), F.col("q"))), 6).alias("best_quality"),
            F.min(F.when(F.col("on_front"), F.col("cost"))).cast("bigint").alias("min_front_cost"),
        )
        .orderBy("source")
    )


SKYLINE_SQL = r"""
WITH d AS (
  SELECT source, doc_id,
         len(list_distinct(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')))
           * 1.0
           / len(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS q,
         CAST(len(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '))
              AS DOUBLE) AS cost
  FROM documents),
sky AS (
  SELECT *,
         min(cost) OVER (PARTITION BY source ORDER BY q DESC, cost ASC, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS min_prev_cost
  FROM d),
flagged AS (
  SELECT *, min_prev_cost IS NULL OR cost < min_prev_cost AS on_front FROM sky)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN on_front THEN 1 ELSE 0 END) AS BIGINT) AS front_size,
       round(max(CASE WHEN on_front THEN q END), 6) AS best_quality,
       CAST(min(CASE WHEN on_front THEN cost END) AS BIGINT) AS min_front_cost
FROM flagged
GROUP BY source
ORDER BY source
"""


def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources: each
    source's relative frequencies of the corpus's top-30 words are
    z-scored against the across-source distribution, and Delta(a,b)
    is the mean |z_a − z_b| over those words — the standard
    authorship/provenance distance (two 'different' sources with a
    tiny Delta were probably scraped from the same generator — a
    provenance-dedup signal document hashes can't see). Top 10
    closest source pairs.

    100 TB: the top-30 word list is one vocabulary aggregate; the
    per-source profile is a (source × 30) table; z-scoring and the
    pairwise join run on profiles — broadcast scale regardless of
    corpus size."""
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.lower(_norm_text()), " ")).alias("t")
    ).where(F.length("t") > 0)
    top = (
        toks.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "t")
        .limit(30)
        .select("t")
    )
    per_src = toks.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    totals = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # every (word, source) cell exists, zero-frequency included —
    # a missing word is stylometric signal, not a missing row
    prof = (
        top.crossJoin(F.broadcast(totals))
        .join(per_src, ["t", "source"], "left")
        .select("t", "source", (F.coalesce("c", F.lit(0)) / F.col("n")).alias("f"))
    )
    stats = prof.groupBy("t").agg(
        F.avg("f").alias("mu"), F.stddev_samp("f").alias("sd")
    )
    z = prof.join(F.broadcast(stats), "t").select(
        "t", "source", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z")
    )
    a = z.select(F.col("source").alias("src_a"), "t", F.col("z").alias("z_a"))
    b = z.select(F.col("source").alias("src_b"), F.col("t").alias("t_b"), F.col("z").alias("z_b"))
    pairs = a.join(
        b, (F.col("t") == F.col("t_b")) & (F.col("src_a") < F.col("src_b"))
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(F.round(F.avg(F.abs(F.col("z_a") - F.col("z_b"))), 6).alias("delta"))
        .orderBy("delta", "src_a", "src_b")
        .limit(10)
    )


BURROWS_DELTA_SQL = r"""
WITH toks AS (
  SELECT source,
         unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS t
  FROM documents),
ok AS (SELECT source, t FROM toks WHERE len(t) > 0),
top AS (
  SELECT t FROM (SELECT t, count(*) AS tf FROM ok GROUP BY t)
  ORDER BY tf DESC, t LIMIT 30),
per_src AS (SELECT source, t, count(*) AS c FROM ok GROUP BY source, t),
totals AS (SELECT source, count(*) AS n FROM ok GROUP BY source),
prof AS (
  SELECT top.t, totals.source,
         coalesce(per_src.c, 0) * 1.0 / totals.n AS f
  FROM top CROSS JOIN totals
  LEFT JOIN per_src ON per_src.t = top.t AND per_src.source = totals.source),
stats AS (
  SELECT t, avg(f) AS mu, stddev_samp(f) AS sd FROM prof GROUP BY t),
z AS (
  SELECT prof.t, prof.source, (prof.f - stats.mu) / stats.sd AS z
  FROM prof JOIN stats USING (t))
SELECT a.source AS src_a, b.source AS src_b,
       round(avg(abs(a.z - b.z)), 6) AS delta
FROM z a JOIN z b ON a.t = b.t AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY delta, src_a, src_b
LIMIT 10
"""


def doc_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of the document-length distribution per source:
    μ, σ of ln(tokens) by moments, plus a fit check — the ratio of
    the ACTUAL 90th-percentile length to the fitted lognormal's
    exp(μ + 1.2816·σ). Real corpora are approximately lognormal;
    a ratio far from 1 flags truncation (ratio < 1: a length cap
    chopped the tail) or concatenation bugs (ratio > 1) — the
    distribution-shape companion to context_overflow_audit's
    fixed-window numbers.

    100 TB: one size(split) projection, one moment + exact-percentile
    aggregate per source (approx_percentile is the documented swap at
    petabyte scale)."""
    docs = load_table(spark, "documents", sf_dir)
    n = F.size(F.split(_norm_text(), " ")).cast("double")
    d = docs.select("source", n.alias("len"), F.log(n).alias("ln_len"))
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.avg("ln_len").alias("mu"),
        F.stddev_pop("ln_len").alias("sigma"),
        F.expr("percentile(len, 0.9)").alias("p90_actual"),
    )
    fitted_p90 = F.exp(F.col("mu") + 1.2816 * F.col("sigma"))
    return g.select(
        "source",
        "n_docs",
        F.round("mu", 6).alias("lognorm_mu"),
        F.round("sigma", 6).alias("lognorm_sigma"),
        F.round(F.col("p90_actual") / fitted_p90, 6).alias("p90_ratio"),
        (F.abs(F.col("p90_actual") / fitted_p90 - 1) > 0.25).alias("shape_anomaly"),
    ).orderBy("source")


LOGNORMAL_FIT_SQL = r"""
WITH d AS (
  SELECT source,
         CAST(len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
              AS DOUBLE) AS len
  FROM documents),
g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         avg(ln(len)) AS mu, stddev_pop(ln(len)) AS sigma,
         quantile_cont(len, 0.9) AS p90_actual
  FROM d GROUP BY source)
SELECT source, n_docs,
       round(mu, 6) AS lognorm_mu,
       round(sigma, 6) AS lognorm_sigma,
       round(p90_actual / exp(mu + 1.2816 * sigma), 6) AS p90_ratio,
       abs(p90_actual / exp(mu + 1.2816 * sigma) - 1) > 0.25 AS shape_anomaly
FROM g
ORDER BY source
"""


def source_token_share_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of token mass across
    sources: HHI = Σ share², with the effective source count 1/HHI —
    the one-number answer to 'is this corpus really diverse or is it
    three crawls wearing twenty names', read next to the per-source
    detail (source_data_card) the way a Gini reads next to a revenue
    table. Also reported for DOCUMENT counts, since token-heavy
    sources can dominate mass while doc counts look balanced.

    100 TB: one per-source aggregate + a 1-row reduction."""
    docs = load_table(spark, "documents", sf_dir)
    n = F.size(F.split(_norm_text(), " ")).cast("double")
    g = docs.groupBy("source").agg(
        F.sum(n).alias("toks"), F.count(F.lit(1)).cast("double").alias("ndocs")
    )
    tot = g.agg(F.sum("toks").alias("t"), F.sum("ndocs").alias("d"))
    j = g.crossJoin(F.broadcast(tot))
    r = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.sum((F.col("toks") / F.col("t")) * (F.col("toks") / F.col("t"))).alias("hhi_t"),
        F.sum((F.col("ndocs") / F.col("d")) * (F.col("ndocs") / F.col("d"))).alias("hhi_d"),
    )
    return r.select(
        "n_sources",
        F.round("hhi_t", 6).alias("hhi_tokens"),
        F.round(1 / F.col("hhi_t"), 4).alias("effective_sources_tokens"),
        F.round("hhi_d", 6).alias("hhi_docs"),
        F.round(1 / F.col("hhi_d"), 4).alias("effective_sources_docs"),
    )


HHI_SQL = r"""
WITH g AS (
  SELECT source,
         sum(CAST(len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
                  AS DOUBLE)) AS toks,
         CAST(count(*) AS DOUBLE) AS ndocs
  FROM documents GROUP BY source),
tot AS (SELECT sum(toks) AS t, sum(ndocs) AS d FROM g),
r AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sources,
         sum((toks / tot.t) * (toks / tot.t)) AS hhi_t,
         sum((ndocs / tot.d) * (ndocs / tot.d)) AS hhi_d
  FROM g CROSS JOIN tot)
SELECT n_sources,
       round(hhi_t, 6) AS hhi_tokens,
       round(1 / hhi_t, 4) AS effective_sources_tokens,
       round(hhi_d, 6) AS hhi_docs,
       round(1 / hhi_d, 4) AS effective_sources_docs
FROM r
"""


# Round-8 file-size split (VERDICT r7 item 6 criterion): the
# language-model / tokenizer / serving-audit theme lives in
# textlm.py; re-exported here so catalog keys and external imports
# (`text.<name>`) are unchanged.
from hematite_spark.queries.textlm import (  # noqa: E402,F401
    text_unigram_logprob,
    UNIGRAM_LOGPROB_SQL,
    text_bigram_logprob,
    BIGRAM_LOGPROB_SQL,
    bpe_learn_merges,
    BPE_SQL,
    bpe_apply_compression,
    BPE_APPLY_SQL,
    tokenizer_fertility,
    TOKENIZER_FERTILITY_SQL,
    mlm_masking_plan,
    MLM_MASKING_SQL,
    eval_ngram_coverage,
    EVAL_COVERAGE_SQL,
    skipgram_sampling_plan,
    SKIPGRAM_SQL,
    kneser_ney_bigram,
    KNESER_NEY_SQL,
    plsa_em_step,
    PLSA_SQL,
    speculative_draft_acceptance,
    SPEC_DRAFT_SQL,
    feature_hashing_embed,
    FEATURE_HASH_SQL,
    watermark_greenlist_detect,
    WATERMARK_SQL,
    canary_leakage_audit,
    CANARY_SQL,
    prefix_cache_savings,
    PREFIX_CACHE_SQL,
    vocab_oov_audit,
    VOCAB_OOV_SQL,
    ngram_entropy_rate,
    NGRAM_ENTROPY_SQL,
    lm_interpolation_em_step,
    LM_INTERP_SQL,
)
