"""The composed end-to-end dedup pipeline with a per-stage survivor bill
(r12 VERDICT item 6): exact-content collapse → canonical-URL identity →
substring (span) filter → MinHash near-dup CC → semantic (embedding) CC,
each stage consuming the previous stage's SURVIVORS — the composition a
real pipeline owner runs, where every individual stage is already a graded
key (dedup_exact_content, dedup_url_canonical, dedup_substring_spans,
dedup_minhash_banded_pairs + dedup_cluster_cc, dedup_semantic_cc).

Graded output: one row per stage with (n_in, n_removed, n_out,
removed_id_checksum = Σ removed doc_ids), fully DuckDB-hash-checked — the
oracle replays the same five stages as a CTE chain built from the stage
keys' own oracle fragments (_sql_sig_cte, _cc_contraction_cte with
per-pass name prefixes, _sql_cos).

Stage order IS the production order (same rationale as
pipeline_curation_funnel): the cheap single-shuffle collapses run first so
the quadratic-prone pair stages see the smallest possible corpus — exact
replicas are the degenerate worst case for banding (the dedup_staged
lesson), and the semantic CC is the most expensive signal, so it runs
last over the fewest documents.

URL note: the documents fixture carries no URL column, so — exactly like
dedup_url_canonical does for events — the key synthesizes a deterministic
messy crawl URL per document (mixed-case host, tracking params, fragment)
and the CANONICALIZER is the operator under test; two documents with the
same canonical URL are treated as re-crawls of one page and the earliest
(min doc_id) is kept.

Scale: stages 1-3 are single-digest-shuffle / span-digest passes (linear);
stage 4 is banded LSH on stage-3 survivors (candidates bounded by band
collisions); stage 5's pair rail is the exact-cosine ORACLE rail
restricted to surviving embedded docs — at 100 TB it routes through IVF
cells (sim_ann_ivf_kmeans) exactly as dedup_semantic_cc documents. No
stage broadcasts a corpus-sized relation (r13 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.pipeline.cluster import _cc_contraction_cte, _cc_star_fixpoint
from upflow_spark.pipeline.minhash_sql import (
    _SQL_BAND_AGREES,
    K_HASHES,
    N_BANDS,
    _candidates_of_sig,
    _signatures_of,
    _sql_sig_cte,
)
from upflow_spark.pipeline.similarity import _sql_cos
from upflow_spark.pipeline.substring import SPAN_S, SPAN_W, dup_span_tokens, span_digests
from upflow_spark.pipeline.text import SQL_TOKENS, tokens_col
from upflow_spark.registry import query
from upflow_spark.session import small_shuffles

SPAN_DROP_FRAC = 0.5  # drop docs with >= 50% of tokens inside dup spans

# deterministic messy-URL synthesis per document (the dedup_url_canonical
# precedent — fixture carries no URLs): host case varies by doc_id%3 (all
# canonicalize to the same host), the crawl identity is (source, length
# bucket, doc_id%25), and utm_*/fragment are the noise the canonicalizer
# must strip
_SQL_DOC_URL = (
    "'https://' || CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM' "
    "WHEN 1 THEN 'www.EXAMPLE.com' ELSE 'www.example.com' END "
    "|| '/' || source || '/d' || CAST(n_chars // 100 AS VARCHAR) "
    "|| '?utm_source=s' || CAST(doc_id % 4 AS VARCHAR) "
    "|| '&id=' || CAST(doc_id % 25 AS VARCHAR) "
    "|| '&utm_campaign=c' || CAST(doc_id % 2 AS VARCHAR) "
    "|| '#sec' || CAST(doc_id % 2 AS VARCHAR)"
)

_STAGES = [
    (1, "exact_content"),
    (2, "url_canonical"),
    (3, "substring"),
    (4, "minhash_neardup"),
    (5, "semantic"),
]


def _bill_oracle() -> str:
    n_agree_sql = " + ".join(
        f"CASE WHEN a.mh{i} = b2.mh{i} THEN 1 ELSE 0 END" for i in range(K_HASHES)
    )
    bands_sql = " OR ".join(f"a{bi}" for bi in range(N_BANDS))
    band_cols = ", ".join(
        f"({_SQL_BAND_AGREES[bi]}) AS a{bi}" for bi in range(N_BANDS)
    )
    counts = "\n".join(
        f"bc{i} AS (SELECT CAST(count(*) AS BIGINT) AS n,"
        f" CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS cs FROM {rel}),"
        for i, rel in enumerate(["bd", "bs1", "bs2", "bs3", "bs4", "bs5"])
    )
    stage_rows = "\nUNION ALL ".join(
        f"SELECT CAST({no} AS INT) AS stage_no, '{name}' AS stage,"
        f" bc{no - 1}.n AS n_in, bc{no - 1}.n - bc{no}.n AS n_removed,"
        f" bc{no}.n AS n_out, bc{no - 1}.cs - bc{no}.cs AS removed_id_checksum"
        f" FROM bc{no - 1}, bc{no}"
        for no, name in _STAGES
    )
    return f"""
WITH
bd AS MATERIALIZED (SELECT doc_id, text, source, n_chars FROM documents),
bs1 AS MATERIALIZED (
  SELECT doc_id, text, source, n_chars FROM (
    SELECT bd.*, min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM bd
  ) WHERE doc_id = keep
),
burl AS (SELECT *, {_SQL_DOC_URL} AS url FROM bs1),
bq AS (
  SELECT *, array_to_string(
    list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                p -> NOT regexp_matches(p, '^utm_')), '&') AS q
  FROM burl
),
bcanon AS MATERIALIZED (
  SELECT doc_id, text,
         'https://' || lower(regexp_extract(url, '^https?://([^/]+)', 1))
           || regexp_extract(url, '^https?://[^/]+([^?#]*)', 1)
           || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canon
  FROM bq
),
bs2 AS MATERIALIZED (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY canon) AS keep
    FROM bcanon
  ) WHERE doc_id = keep
),
btok AS MATERIALIZED (SELECT doc_id, {SQL_TOKENS} AS t FROM bs2),
bspans AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - {SPAN_W - 1}, {SPAN_S}))
           AS pos, t
  FROM btok WHERE len(t) >= {SPAN_W}
),
bdigs AS (
  SELECT doc_id, pos,
         md5(array_to_string(t[pos:pos + {SPAN_W - 1}], ' ')) AS dig
  FROM bspans
),
bcnt AS MATERIALIZED (
  SELECT doc_id, pos, count(*) OVER (PARTITION BY dig) AS c FROM bdigs
),
bdup AS (SELECT doc_id, pos, pos + {SPAN_W - 1} AS e FROM bcnt WHERE c > 1),
bcov AS (
  SELECT doc_id,
         greatest(0, e - greatest(pos - 1,
           coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)))
           AS cover
  FROM bdup
),
bfrac AS MATERIALIZED (
  SELECT tk.doc_id,
         CAST(coalesce(a2.dup_tokens, 0) AS DOUBLE) / len(tk.t) AS frac
  FROM btok tk LEFT JOIN (
    SELECT doc_id, sum(cover) AS dup_tokens FROM bcov GROUP BY doc_id
  ) a2 ON tk.doc_id = a2.doc_id
),
bs3 AS MATERIALIZED (
  SELECT s.doc_id, s.text FROM bs2 s JOIN bfrac f ON s.doc_id = f.doc_id
  WHERE f.frac < {SPAN_DROP_FRAC}
),
{_sql_sig_cte("bs3")},
mh_pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           ({n_agree_sql}) AS n_agree, {band_cols}
    FROM sig a JOIN sig b2 ON a.doc_id < b2.doc_id
  ) WHERE ({bands_sql}) AND n_agree >= 15
),
{_cc_contraction_cte(prefix="mh_")},
mh_losers AS MATERIALIZED (
  SELECT n AS doc_id FROM mh_cc_final WHERE n <> lbl
),
bs4 AS MATERIALIZED (
  SELECT s.doc_id FROM bs3 s LEFT JOIN mh_losers l ON s.doc_id = l.doc_id
  WHERE l.doc_id IS NULL
),
sm_pairs AS MATERIALIZED (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  JOIN bs4 sa ON a.vec_id = sa.doc_id
  JOIN bs4 sb ON b.vec_id = sb.doc_id
  WHERE {_sql_cos("a.embedding", "b.embedding")} >= 0.40
),
{_cc_contraction_cte(prefix="sm_")},
sm_losers AS MATERIALIZED (
  SELECT n AS doc_id FROM sm_cc_final WHERE n <> lbl
),
bs5 AS MATERIALIZED (
  SELECT s.doc_id FROM bs4 s LEFT JOIN sm_losers l ON s.doc_id = l.doc_id
  WHERE l.doc_id IS NULL
),
{counts}
dummy AS (SELECT 1)
{stage_rows}
UNION ALL SELECT CAST(-1 AS INT), 'CC_UNCONVERGED', CAST(-1 AS BIGINT),
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
FROM mh_cc_unconverged
UNION ALL SELECT CAST(-1 AS INT), 'CC_UNCONVERGED', CAST(-1 AS BIGINT),
       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
FROM sm_cc_unconverged
"""


@query("dedup_pipeline_bill", oracle=_bill_oracle())
def dedup_pipeline_bill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the module docstring: the five-stage composed dedup pipeline
    with a hash-checked per-stage survivor/rejection bill."""
    par = spark.sparkContext.defaultParallelism
    d = load(spark, sf_dir, "documents").repartition(par).select(
        "doc_id", "text", "source", "n_chars"
    )

    def keep_min(df: DataFrame, key) -> DataFrame:  # noqa: ANN001
        w = Window.partitionBy(key)
        return (
            df.withColumn("__keep", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("__keep"))
            .drop("__keep")
        )

    # stage 1: exact-content collapse (one digest-window shuffle)
    s1 = keep_min(d, F.md5("text")).repartition(par).localCheckpoint()

    # stage 2: canonical-URL identity (map-only canonicalizer + one window)
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, "WWW.Example.COM")
        .when(F.col("doc_id") % 3 == 1, "www.EXAMPLE.com")
        .otherwise("www.example.com"),
        F.lit("/"),
        F.col("source"),
        F.lit("/d"),
        F.expr("n_chars div 100").cast("string"),
        F.lit("?utm_source=s"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("&id="),
        (F.col("doc_id") % 25).cast("string"),
        F.lit("&utm_campaign=c"),
        (F.col("doc_id") % 2).cast("string"),
        F.lit("#sec"),
        (F.col("doc_id") % 2).cast("string"),
    )
    host = F.lower(F.regexp_extract("url", r"^https?://([^/]+)", 1))
    path = F.regexp_extract("url", r"^https?://[^/]+([^?#]*)", 1)
    qs = F.array_join(
        F.filter(
            F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
            lambda p: ~p.rlike("^utm_"),
        ),
        "&",
    )
    canon = F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    s2 = (
        keep_min(
            s1.withColumn("url", url).withColumn("canon", canon), F.col("canon")
        )
        .select("doc_id", "text")
        .repartition(par)
        .localCheckpoint()  # read by spans, signatures, and the count
    )

    # stage 3: substring-span filter over the stage-2 survivor corpus
    toks = tokens_col()
    t = s2.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("long").alias("n_tokens")
    )
    dup_tok = dup_span_tokens(span_digests(t))
    frac = (
        t.join(dup_tok, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("frac"),
        )
    )
    s3 = (
        s2.join(frac.filter(F.col("frac") < SPAN_DROP_FRAC).select("doc_id"), "doc_id")
        .repartition(par)
        .localCheckpoint()  # feeds signatures + anti-join + count
    )

    # stage 4: MinHash banding on survivors, >=15/16 verify, CC, drop losers
    sig = _signatures_of(s3).repartition(par).localCheckpoint()
    verified = (
        _candidates_of_sig(sig)
        .filter(F.col("n_agree") >= 15)
        .select("doc_a", "doc_b")
    )
    with small_shuffles(spark):
        mh_labels = _cc_star_fixpoint(verified).localCheckpoint()
    mh_losers = mh_labels.filter(~F.col("is_canonical")).select("doc_id")
    s4 = (
        s3.select("doc_id")
        .join(mh_losers, "doc_id", "left_anti")
        .localCheckpoint()  # two semantic-pair semi-joins + anti-join + count
    )

    # stage 5: semantic CC over the embeddings of surviving docs (exact
    # rail, the dedup_semantic_cc oracle shape; IVF-celled at 100 TB)
    from upflow_spark.pipeline.dedup import dedup_embedding_cosine

    sem_pairs = (
        dedup_embedding_cosine(spark, sf_dir)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
        .join(s4.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_semi")
        .join(s4.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_semi")
    )
    with small_shuffles(spark):
        sm_labels = _cc_star_fixpoint(sem_pairs).localCheckpoint()
    sm_losers = sm_labels.filter(~F.col("is_canonical")).select("doc_id")
    s5 = s4.join(sm_losers, "doc_id", "left_anti")

    # the bill: six bounded (count, id-sum) aggregates -> five stage rows.
    # r15 (guide §1.2/§2.6): ONE driver job instead of six serial
    # collect()s — each 1-row aggregate rides the final plan as a
    # broadcast subtree, so the six scans of the (checkpointed) stage
    # relations execute concurrently and the 14-job tail the event log
    # showed (0.9 s of job+gap overhead warm) collapses into one job.
    # stage-0 leg scans the parquet directly (single pruned column, no
    # repartition exchange) — counting through `d` shuffles full text rows
    d_count = load(spark, sf_dir, "documents").select("doc_id")
    stats_df = None
    for i, rel in enumerate((d_count, s1, s2, s3, s4, s5)):
        a = rel.agg(
            F.count(F.lit(1)).cast("long").alias(f"n{i}"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long").alias(f"cs{i}"),
        )
        stats_df = a if stats_df is None else stats_df.crossJoin(F.broadcast(a))
    row = stats_df.collect()[0]
    stats = [(row[f"n{i}"], row[f"cs{i}"]) for i in range(6)]
    out = [
        (
            no,
            name,
            stats[no - 1][0],
            stats[no - 1][0] - stats[no][0],
            stats[no][0],
            stats[no - 1][1] - stats[no][1],
        )
        for no, name in _STAGES
    ]
    return spark.createDataFrame(
        out,
        "stage_no int, stage string, n_in bigint, n_removed bigint,"
        " n_out bigint, removed_id_checksum bigint",
    )
