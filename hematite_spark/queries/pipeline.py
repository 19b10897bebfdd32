"""End-to-end LLM training-corpus pipeline (the C-series operators
composed into one job): language filter → quality filter → exact
dedup → near-dup (LSH + connected components) dedup → stable
train/val/test split, reported as per-stage survivor counts so the
whole funnel is one oracle-checked result.

This is the integration proof: each stage is the catalog operator
(same hash arithmetic, same thresholds), chained the way a real data
pipeline chains them. One Spark job graph end-to-end — no
intermediate materialization — so Catalyst prunes columns across
stage boundaries (the funnel needs only doc_id/lang/text/n_chars).

Scale shape: stages 1-3 are stateless filters + one hash-aggregate;
stage 4's candidate generation is the banded LSH equi-join (the only
O(pairs) step, bounded by banding); stage 5 is a stateless hash. The
funnel's shuffles are: exact-dedup groupBy, LSH band joins, CC — all
on keys that shrink with each stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hematite_spark.io import load_table
from hematite_spark.functions import norm_text as _norm_text
from hematite_spark.queries.dedup import _lsh_candidates, dedup_connected_components
from hematite_spark.queries.sampling import _DUCK_HASH_PCT, _hash_pct

KEEP_LANGS = ("en", "de", "fr")
MIN_WORDS = 5


def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the funnel; returns one row per (stage, split) with
    survivor counts — the lineage report a corpus build emits."""
    docs = load_table(spark, "documents", sf_dir)
    n_words = F.size(F.split(_norm_text(), " "))

    # stage 1+2: language + quality gates (stateless, scan-pushed)
    kept = docs.where(F.col("lang").isin(*KEEP_LANGS)).where(n_words >= MIN_WORDS)

    # stage 3: exact dedup — keep min doc_id per content hash
    exact = (
        kept.withColumn("fp", F.md5(_norm_text()))
        .withColumn("min_doc", F.min("doc_id").over(W.partitionBy("fp")))
        .where(F.col("doc_id") == F.col("min_doc"))
        .drop("fp", "min_doc")
    )

    # stage 4: near-dup dedup — drop every clustered doc except its
    # cluster keeper (CC over LSH candidates, computed on the full
    # corpus: candidates among already-dropped docs can still link
    # survivors, so clustering precedes filtering by design). The LSH
    # candidate graph is built ONCE (localCheckpoint) and shared by
    # the clustering and the membership derivation.
    pairs = _lsh_candidates(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    clusters = dedup_connected_components(spark, sf_dir, pairs=pairs)
    # members to drop = every doc in a cluster except the keeper
    drop = (
        pairs.select(F.col("doc_b").alias("doc_id"))
        .union(pairs.select(F.col("doc_a").alias("doc_id")))
        .distinct()
        .join(clusters.select(F.col("cluster_keeper").alias("doc_id")), "doc_id", "left_anti")
    )
    deduped = exact.join(drop, "doc_id", "left_anti")

    # stage 5: stable split
    h = _hash_pct(F.col("doc_id"))
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise(F.lit("test"))
    final = deduped.select(split.alias("split"), "n_chars")

    # funnel report: one row per stage with survivor counts, then the
    # split distribution of the final corpus
    stages = [
        ("0_raw", docs),
        ("1_lang", docs.where(F.col("lang").isin(*KEEP_LANGS))),
        ("2_quality", kept),
        ("3_exact_dedup", exact),
        ("4_near_dedup", deduped),
    ]
    counts = None
    for stage_name, df in stages:
        row = df.agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).alias("n_chars"),
        ).select(F.lit(stage_name).alias("stage"), "n_docs", "n_chars")
        counts = row if counts is None else counts.unionByName(row)
    splits = final.groupBy(F.concat(F.lit("5_split_"), "split").alias("stage")).agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    return counts.unionByName(splits).orderBy("stage")


_PIPELINE_DEDUP_CTES = """
, kept AS (
  SELECT doc_id, lang, n_chars,
         regexp_replace(trim(text), '\\s+', ' ', 'g') AS norm
  FROM documents
  WHERE lang IN ('en', 'de', 'fr')
    AND len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) >= 5)
, exact AS (
  SELECT doc_id, lang, n_chars
  FROM (SELECT doc_id, lang, n_chars,
               min(doc_id) OVER (PARTITION BY md5(norm)) AS min_doc
        FROM kept)
  WHERE doc_id = min_doc)
, clustered AS (
  SELECT DISTINCT node AS doc_id FROM assign)
, keepers AS (
  SELECT label AS doc_id FROM assign GROUP BY label HAVING count(*) >= 1)
, drops AS (
  SELECT doc_id FROM clustered WHERE doc_id NOT IN (SELECT doc_id FROM keepers))
, deduped AS (
  SELECT e.* FROM exact e WHERE e.doc_id NOT IN (SELECT doc_id FROM drops))
"""


def _build_pipeline_sql() -> str:
    from hematite_spark.queries.dedup import DEDUP_CC_SQL

    # reuse the CC oracle's CTE chain up to `assign`, swap its final
    # SELECT for the funnel report
    cc_prefix = DEDUP_CC_SQL[: DEDUP_CC_SQL.index("SELECT label AS cluster_keeper")]
    hash_pct = _DUCK_HASH_PCT.format(k="doc_id::VARCHAR")
    return (
        cc_prefix.rstrip().rstrip(",")
        + _PIPELINE_DEDUP_CTES
        + f"""
SELECT stage, n_docs, CAST(n_chars AS BIGINT) AS n_chars FROM (
  SELECT '0_raw' AS stage, count(*) AS n_docs, coalesce(sum(n_chars), 0) AS n_chars FROM documents
  UNION ALL
  SELECT '1_lang', count(*), coalesce(sum(n_chars), 0) FROM documents WHERE lang IN ('en', 'de', 'fr')
  UNION ALL
  SELECT '2_quality', count(*), coalesce(sum(n_chars), 0) FROM kept
  UNION ALL
  SELECT '3_exact_dedup', count(*), coalesce(sum(n_chars), 0) FROM exact
  UNION ALL
  SELECT '4_near_dedup', count(*), coalesce(sum(n_chars), 0) FROM deduped
  UNION ALL
  SELECT '5_split_' || (CASE WHEN {hash_pct} < 80 THEN 'train'
                             WHEN {hash_pct} < 90 THEN 'val' ELSE 'test' END),
         count(*), sum(n_chars)
  FROM deduped
  GROUP BY 1)
ORDER BY stage
"""
    )


PIPELINE_SQL = _build_pipeline_sql()
