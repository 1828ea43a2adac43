"""Exact substring-level (span) deduplication — the Lee et al. 2022
"Deduplicating Training Data Makes Language Models Better" operator shape:
cross-document repeated ~50-token spans, which whole-doc exact dedup and
shingle-SET similarity (MinHash/SimHash) both miss.

(No reference file to cite — /root/reference is empty; motivated by
SURVEY.md §2-M's dedup family and PAPERS.md's text-analysis thread.)

Approach: hash every 50-token sliding window at stride 10 (the standard
scalable approximation of the paper's suffix-array scan — stride-1 exact
spans need ~50× the span rows for a marginal recall gain on 50-token
windows; production pipelines run strided hashed windows for exactly this
reason), mark digests occurring more than once corpus-wide, and report per
document the duplicated-span count plus the FRACTION OF TOKENS covered by
at least one duplicated span (overlapping spans merged with a running-max
interval sweep, so the fraction never double-counts).

Scale shape: one map-side span explode (×n_spans/doc ≈ n_tokens/stride),
ONE shuffle by digest for the corpus-wide occurrence count, then per-doc
window+agg shuffles on the (much smaller) span table. Candidates grow with
TRUE repeats only — a digest seen once costs one grouped row, never a pair
— so unlike pair-join dedup there is no quadratic term anywhere. The
digest is engine-local (xxhash64 here, md5 in the oracle): only
*equality within one engine* matters, so each side uses its cheapest
collision-free hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.parity import r4
from upflow_spark.pipeline.text import SQL_TOKENS, tokens_col
from upflow_spark.registry import query

SPAN_W = 50  # tokens per window (Lee et al.'s dup-span scale)
SPAN_S = 10  # stride between window starts


def span_digests(t: DataFrame, stride: int = SPAN_S) -> DataFrame:
    """(doc_id, pos, dig, c) for every SPAN_W-token window of `t` (doc_id,
    t, n_tokens) starting at 1-based token `pos`, one start every `stride`
    tokens: `dig` is the window's xxhash64 digest and `c` its corpus-wide
    occurrence count. Documents shorter than SPAN_W have no windows.

    Plan: map-side explode of window starts (sequence+slice — no UDF),
    then ONE count window keyed by digest, the only corpus-wide shuffle."""
    return (
        t.filter(F.col("n_tokens") >= SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1),
                    (F.col("n_tokens") - (SPAN_W - 1)).cast("int"),
                    F.lit(stride),
                )
            ).alias("pos"),
            "t",
        )
        .select(
            "doc_id",
            "pos",
            F.xxhash64(F.concat_ws(" ", F.expr(f"slice(t, pos, {SPAN_W})"))).alias(
                "dig"
            ),
        )
        .withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("dig")))
    )


def dup_span_tokens(spans: DataFrame) -> DataFrame:
    """(doc_id, dup_tokens): per document with a repeated window of
    `spans` (doc_id, pos, c), the number of tokens covered by at least one
    window with c > 1 — overlapping windows merged by a running-max
    interval sweep, so no token counts twice."""
    dup = spans.filter(F.col("c") > 1).select(
        "doc_id", "pos", (F.col("pos") + (SPAN_W - 1)).alias("e")
    )
    prev_max = F.max("e").over(
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = dup.select(
        "doc_id",
        F.greatest(
            F.lit(0),
            F.col("e")
            - F.greatest(F.col("pos") - 1, F.coalesce(prev_max, F.lit(0))),
        ).alias("cover"),
    )
    return cov.groupBy("doc_id").agg(F.sum("cover").cast("long").alias("dup_tokens"))


@query(
    "dedup_substring_spans",
    oracle=f"""
WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
spans AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - {SPAN_W - 1}, {SPAN_S})) AS pos, t
  FROM toks WHERE len(t) >= {SPAN_W}
),
digs AS (
  SELECT doc_id, pos,
         md5(array_to_string(t[pos:pos + {SPAN_W - 1}], ' ')) AS dig
  FROM spans
),
cnt AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY dig) AS c FROM digs),
agg1 AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup_spans
  FROM cnt GROUP BY doc_id
),
dup AS (SELECT doc_id, pos, pos + {SPAN_W - 1} AS e FROM cnt WHERE c > 1),
cov AS (
  SELECT doc_id,
         greatest(0, e - greatest(pos - 1,
           coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS cover
  FROM dup
),
agg2 AS (SELECT doc_id, sum(cover) AS dup_tokens FROM cov GROUP BY doc_id)
SELECT tk.doc_id,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(a1.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(a1.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(a2.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       floor((CAST(coalesce(a2.dup_tokens, 0) AS DOUBLE) / len(tk.t)) * 10000 + 0.5)
         / 10000 AS dup_token_frac
FROM toks tk
LEFT JOIN agg1 a1 ON tk.doc_id = a1.doc_id
LEFT JOIN agg2 a2 ON tk.doc_id = a2.doc_id
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span report over 50-token stride-10 hashed
    windows: (doc_id, n_tokens, n_spans, n_dup_spans, dup_tokens,
    dup_token_frac), where dup_tokens is the merged-interval union of all
    spans whose digest repeats anywhere in the corpus.

    Plan: map-side explode of window starts (sequence+slice — no UDF),
    xxhash64 digest, ONE count window keyed by digest (the only
    corpus-wide shuffle), then per-doc interval-merge (running-max window)
    + aggregation on the duplicated-span subset. The documents table is
    never pair-joined: cost is linear in span count plus the digest
    shuffle, which is what survives 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens_col()
    t = d.select("doc_id", toks.alias("t"), F.size(toks).cast("long").alias("n_tokens"))

    cnt = span_digests(t)
    agg1 = cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("long").alias("n_dup_spans"),
    )
    agg2 = dup_span_tokens(cnt)

    return (
        t.select("doc_id", "n_tokens")
        .join(agg1, "doc_id", "left_outer")
        .join(agg2, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            r4(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("dup_token_frac"),
        )
    )


@query(
    "dedup_substring_apply",
    oracle=f"""
WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
spans AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - {SPAN_W - 1}, {SPAN_S})) AS pos, t
  FROM toks WHERE len(t) >= {SPAN_W}
),
digs AS (
  SELECT doc_id, pos,
         md5(array_to_string(t[pos:pos + {SPAN_W - 1}], ' ')) AS dig
  FROM spans
),
marked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY dig) AS c,
         min(ROW(doc_id, pos)) OVER (PARTITION BY dig) AS kk
  FROM digs
),
rem AS (
  SELECT doc_id, pos, pos + {SPAN_W - 1} AS e FROM marked
  WHERE c > 1 AND ROW(doc_id, pos) <> kk
),
posuniv AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t FROM toks),
keeppos AS (
  SELECT pu.doc_id, pu.p, pu.t
  FROM posuniv pu
  WHERE NOT EXISTS (SELECT 1 FROM rem r
                    WHERE r.doc_id = pu.doc_id AND pu.p BETWEEN r.pos AND r.e)
),
clean AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(t[p], ' ' ORDER BY p) AS cleaned_text
  FROM keeppos GROUP BY doc_id
)
SELECT tk.doc_id,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       CAST(len(tk.t) - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(c.cleaned_text, '') AS cleaned_text
FROM toks tk LEFT JOIN clean c ON tk.doc_id = c.doc_id
""",
)
def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE counterpart of dedup_substring_spans (as
    dedup_apply_canonical is to dedup_cluster_cc): rewrite the corpus with
    every duplicated 50-token span REMOVED except its first occurrence —
    the Lee-et-al pipeline's actual output. First occurrence = the span
    whose (doc_id, pos) is lexicographically smallest among its digest
    group, ranked as a lexicographic (doc_id, pos) struct on both engines
    (r8: replaced the doc_id*1e6+pos arithmetic key, which aliased for
    documents past 1M token positions).

    Plan: the span digests reuse the report key's map-side build; ONE
    window by digest produces both the occurrence count and the keeper
    key; removal intervals come back to their documents as a
    collect_list join (per-doc interval arrays are tiny — bounded by
    spans/doc), and the rewrite is a map-side two-arg filter HOF
    (token index ∉ any removal interval) — the corpus text itself never
    shuffles, mirroring dedup_apply_canonical's never-shuffle-the-corpus
    property at 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens_col()
    t = d.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("long").alias("n_tokens")
    )
    # first occurrence ranks by the lexicographic (doc_id, pos) STRUCT —
    # an arithmetic doc_id*1e6+pos encoding would alias/overflow once a
    # document exceeds 1M token positions (r7 ADVICE); struct min cannot
    okey = F.struct("doc_id", "pos")
    marked = span_digests(t).withColumn(
        "kk", F.min(okey).over(Window.partitionBy("dig"))
    )
    rem = marked.filter((F.col("c") > 1) & (okey != F.col("kk"))).select(
        "doc_id",
        F.struct(
            F.col("pos").alias("s"), (F.col("pos") + (SPAN_W - 1)).alias("e")
        ).alias("iv"),
    )
    ivals = rem.groupBy("doc_id").agg(F.collect_list("iv").alias("ivals"))
    joined = t.join(ivals, "doc_id", "left_outer").select(
        "doc_id",
        "n_tokens",
        "t",
        F.coalesce(
            F.col("ivals"), F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
        ).alias("ivals"),
    )
    kept = F.expr(
        "filter(t, (x, i) -> NOT exists(ivals, iv -> i + 1 >= iv.s AND i + 1 <= iv.e))"
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )


@query(
    "dedup_substring_exact",
    oracle=f"""
WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS t FROM documents),
gspans AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - {SPAN_W - 1}, {SPAN_S})) AS pos, t
  FROM toks WHERE len(t) >= {SPAN_W}
),
gdigs AS (
  SELECT doc_id, pos,
         md5(array_to_string(t[pos:pos + {SPAN_W - 1}], ' ')) AS dig
  FROM gspans
),
gcnt AS (SELECT doc_id, count(*) OVER (PARTITION BY dig) AS c FROM gdigs),
flagged AS (SELECT DISTINCT doc_id FROM gcnt WHERE c > 1),
ftoks AS (SELECT tk.doc_id, tk.t FROM toks tk JOIN flagged f ON tk.doc_id = f.doc_id),
s1 AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - {SPAN_W - 1}, 1)) AS pos, t
  FROM ftoks WHERE len(t) >= {SPAN_W}
),
d1 AS (
  SELECT doc_id, pos,
         md5(array_to_string(t[pos:pos + {SPAN_W - 1}], ' ')) AS dig
  FROM s1
),
c1 AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY dig) AS c FROM d1),
agg1 AS (
  SELECT doc_id, count(*) AS n_windows,
         sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS n_dup_windows
  FROM c1 GROUP BY doc_id
),
dup AS (SELECT doc_id, pos, pos + {SPAN_W - 1} AS e FROM c1 WHERE c > 1),
cov AS (
  SELECT doc_id,
         greatest(0, e - greatest(pos - 1,
           coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS cover
  FROM dup
),
agg2 AS (SELECT doc_id, sum(cover) AS dup_tokens_exact FROM cov GROUP BY doc_id)
SELECT ft.doc_id,
       CAST(len(ft.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(a1.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(a1.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(a2.dup_tokens_exact, 0) AS BIGINT) AS dup_tokens_exact,
       floor((CAST(coalesce(a2.dup_tokens_exact, 0) AS DOUBLE) / len(ft.t)) * 10000 + 0.5)
         / 10000 AS dup_frac_exact
FROM ftoks ft
LEFT JOIN agg1 a1 ON ft.doc_id = a1.doc_id
LEFT JOIN agg2 a2 ON ft.doc_id = a2.doc_id
""",
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase stride-1 recall pass over dedup_substring_spans (Lee et
    al.'s exactness refinement): phase 1 is the stride-{SPAN_S} corpus
    scan; phase 2 re-windows ONLY the documents phase 1 flagged — at
    stride 1 — so the per-position hashing cost is ∝ flagged docs, never
    the corpus. Output: per flagged doc, the stride-1 window counts and
    the EXACT merged duplicated-token coverage (stride-10 coverage
    under-counts up to {SPAN_S}-1 tokens per span edge).

    Recall contract (documented, shared by both engines): phase 2's
    duplicate universe is the stride-1 windows of FLAGGED docs — a span
    duplicated only between two never-flagged docs (both occurrences off
    the stride-{SPAN_S} grid phase) stays invisible, exactly as in the
    report key. Flagging is grid-based by design; the 100 TB posture is
    stride-{SPAN_S} for the always-on scan and this key as the
    second-stage exact pass over the (tiny) flagged slice.

    Plan: grid scan reuses the spans machinery (one digest count window);
    the flagged-doc set is tiny (∝ docs with true duplication) so it
    broadcasts back onto the corpus as a semi-join; the stride-1 digest
    count window then runs over flagged-doc windows only. The corpus is
    never pair-joined at either phase.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens_col()
    t = d.select(
        "doc_id", toks.alias("t"), F.size(toks).cast("long").alias("n_tokens")
    )

    flagged = (
        span_digests(t)
        .filter(F.col("c") > 1)
        .select("doc_id")
        .distinct()
    )
    ft = t.join(F.broadcast(flagged), "doc_id")
    c1 = span_digests(ft, 1)
    agg1 = c1.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_windows"),
    )
    agg2 = dup_span_tokens(c1)
    return (
        ft.select("doc_id", "n_tokens")
        .join(agg1, "doc_id", "left_outer")
        .join(agg2, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_windows"), F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens_exact"),
            r4(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("dup_frac_exact"),
        )
    )
