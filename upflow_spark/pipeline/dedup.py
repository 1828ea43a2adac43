"""§2-J + training-data deduplication operators (SURVEY.md; north star).

Four dedup families, each with the 100 TB strategy stated:

- exact: md5(content) groupBy — one shuffle on the digest; always do this
  pass first, it's the cheapest and removes the bulk.
- near-dup MinHash/LSH: the graded key computes EXACT token-set Jaccard
  (explode + pair join) so DuckDB can verify it; `dedup_near_minhash_lsh`
  is the scale path (Spark ML MinHashLSH approxSimilarityJoin) — banding
  bounds candidate pairs instead of the O(n²) blowup.
- SimHash: 32 digit-majority bits from md5(token) hex digits — a pure-SQL
  simhash both engines compute identically; near-dups share the signature
  (compare by Hamming distance at scale).
- n-gram (bigram) Jaccard: shingle-set overlap, catches reorderings that
  unigram Jaccard misses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark import ceilings
from upflow_spark.io import load
from upflow_spark.memo import memo
from upflow_spark.parity import r4
from upflow_spark.pipeline.packed import gather_pairs, pack, pair_cells
from upflow_spark.pipeline.similarity import _cos, _sql_cos, _unit
from upflow_spark.pipeline.text import SQL_TOKENS, bigram_struct_col, tokens_col
from upflow_spark.registry import query


@query(
    "dedup_exact_content",
    oracle="""
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS keep_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM documents
""",
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup assignment: every document mapped to the
    canonical survivor of its content-digest group (keep = min doc_id) plus
    an is_dup drop flag — the per-row verdict a curation pipeline actually
    applies downstream.

    (r6: the old HAVING dup_count > 1 group listing returned 0 rows below
    sf0.1 — a vacuous hash-match at the driver's sf0.01 grading scale. The
    assignment form exercises the same digest grouping at EVERY sf — one
    row per doc — and at sf0.1 flags the 8 real duplicate texts.)

    At 100 TB: one hash-partitioned window (or groupBy + self-join) on the
    digest — the same single shuffle as the group listing; survivors
    filter locally with is_dup.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    keep = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    return d.select(
        "doc_id",
        keep.alias("keep_doc_id"),
        (F.col("doc_id") != keep).alias("is_dup"),
    )


@query(
    "dedup_near_minhash",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
),
card AS (SELECT doc_id, count(*) AS n_terms FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       floor((CAST(n_common AS DOUBLE) / (ca.n_terms + cb.n_terms - n_common)) * 10000 + 0.5) / 10000 AS jaccard
FROM inter
JOIN card ca ON ca.doc_id = doc_a
JOIN card cb ON cb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (ca.n_terms + cb.n_terms - n_common) >= 0.95
""",
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact token-set Jaccard ≥ 0.95.

    (The synthetic corpus shares a ~40-word vocabulary, so unigram token
    SETS of long docs are near-identical — a 0.8 threshold admits millions
    of pairs at sf0.1; 0.95 keeps the op selective on this data.)

    Exact formulation for the oracle, computed via `_jaccard_pairs_bitmask`
    (vocabulary bitmask encoding — see its docstring for why the per-term
    equi-join melts down on small vocabularies); `dedup_near_minhash_lsh`
    is the banded-LSH variant for open vocabularies at 100 TB.
    """
    # single-file fixture -> 1 partition; spread BEFORE the tokenize/explode
    # or the whole shingling pass runs on one core
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # array_distinct BEFORE the explode: per-doc dedup is map-side, so the
    # (doc_id, item) stream is born distinct and the old post-explode
    # .distinct() shuffle disappears entirely
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("item")
    )
    pairs = _jaccard_pairs_bitmask(spark, tok, 0.95)
    return pairs.select("doc_a", "doc_b", r4(F.col("jac_raw")).alias("jaccard"))


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level MinHashLSH near-dup pairs (consumed by tests and by
    downstream exact verification; the graded key aggregates — see below).

    Architecture (r5 rewrite — was approxSimilarityJoin at 8.6-14 s):
    Spark ML MinHashLSH still generates the banded signatures (the
    production LSH surface), but candidate pairing + verification is our
    own plan, because this corpus exposes a real degenerate regime:

    - The fixture vocabulary is ≤62 words, so minhash values over the
      2^18 feature space take at most |vocab| distinct values per table —
      measured **33 distinct (table, hash) buckets for 15k exploded rows**,
      meaning banding admits 23.5M candidate pairs, MORE than the 12.5M
      all-pairs total. On such data the per-candidate work is everything.
    - approxSimilarityJoin pays a per-candidate JVM UDF Jaccard over sparse
      vectors (14.1 s); we instead verify with the single-long bitmask
      bit_count Jaccard (codegen'd, shared with _jaccard_pairs_bitmask).
    - 33 join keys over 32 tasks = maximal skew for a shuffle join; the
      exploded signature+mask table is a few MB, so BROADCAST-hash-join it
      against the repartitioned stream side — even parallelism, no shuffle,
      no skew (35.2 s shuffle variant → 2.2 s measured).
    - Verify BEFORE dropDuplicates: the J≥0.95 filter is codegen'd and cuts
      the 23.5M stream to ~600k before the distinct's shuffle.

    At 100 TB with an OPEN vocabulary the same plan holds — buckets become
    selective (that's the regime banding is for) and the broadcast side is
    replaced by the standard shuffle equi-join on (table, hash) with AQE
    skew-split; the verify stays bitmask/bit_count either way.
    """
    scored = minhash_scored_candidates(spark, sf_dir)
    return (
        scored.filter(F.col("jac_raw") >= 0.95)
        .select("doc_a", "doc_b", r4(F.col("jac_raw")).alias("jaccard_approx"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_scored_candidates(
    spark: SparkSession, sf_dir: str, broadcast_build: bool = True
) -> DataFrame:
    """(doc_a, doc_b, jac_raw) for every banded candidate, pre-threshold
    and pre-distinct — the per-row work of the MinHashLSH family, exposed
    for tools/band_skew_probe.py (work balance under hot buckets; the
    shuffle-join scale variant via broadcast_build=False)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    par = spark.sparkContext.defaultParallelism
    d = load(spark, sf_dir, "documents")
    # single tokenize pass shared by the mask build AND the LSH model
    terms_df = (
        d.repartition(par)
        .select("doc_id", F.array_distinct(tokens_col()).alias("terms"))
        .filter(F.size("terms") > 0)
        .localCheckpoint()
    )
    items = terms_df.select("doc_id", F.explode("terms").alias("item"))
    masks, n_words = _doc_bitmasks(spark, items)

    tf = HashingTF(
        inputCol="terms", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(terms_df)
    # OR-amplification math: a J>=0.95 pair is missed by one table w.p. 0.05,
    # so 3 tables give recall 1-0.05^3 ≈ 0.9999.
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=3, seed=42)
    model = lsh.fit(feats)
    sig = (
        model.transform(feats)
        .select("doc_id", F.posexplode("hashes").alias("t", "hv"))
        .select("doc_id", "t", F.element_at(vector_to_array("hv"), 1).alias("hval"))
    )
    h = sig.join(masks, "doc_id").localCheckpoint()
    a = h.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_items").alias("na"),
        "t",
        "hval",
        *[F.col(f"m{w}").alias(f"a{w}") for w in range(n_words)],
    ).repartition(par)
    b = h.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_items").alias("nb"),
        "t",
        "hval",
        *[F.col(f"m{w}").alias(f"b{w}") for w in range(n_words)],
    )
    build = F.broadcast(b) if broadcast_build else b
    cand = a.join(build, ["t", "hval"]).filter(F.col("doc_a") < F.col("doc_b"))
    inter = sum(
        F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))) for w in range(n_words)
    ).cast("long")
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return cand.select("doc_a", "doc_b", jac.alias("jac_raw"))


@query("dedup_near_minhash_lsh")  # rows-only: LSH bucketing is engine-specific
def dedup_near_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH near-dup detection — the 100 TB path.

    Token sets → sparse vectors (HashingTF) → MinHashLSH approxSimilarityJoin
    at Jaccard distance ≤ 0.05 (the exact key's 0.95 threshold). Banding means
    candidate generation is bucket-local (no all-pairs shuffle). Rows-only:
    hash buckets aren't SQL-reproducible; tests/test_ops.py cross-checks
    pair-level recall against the exact key via minhash_lsh_pairs().

    Graded output (VERDICT r4 item 3, mirroring the r4
    dedup_minhash_banded_pairs reshape): the old shape returned every
    candidate pair — 190k rows at sf0.1, so most of the 8.6 s wall-time was
    result materialization/transfer, not LSH compute. Now one summary row:
    pair count, order-insensitive arithmetic checksum, and the mean
    estimated Jaccard — same discriminating power (any changed/missing pair
    moves the checksum), constant-size output at any scale.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir)
    ph = (
        F.col("doc_a") * F.lit(2654435761) + F.col("doc_b") * F.lit(40503)
    ) % F.lit(4294967296)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(ph).cast("long").alias("pair_checksum"),
        r4(F.avg("jaccard_approx")).alias("mean_jaccard"),
    )


def _doc_bitmasks(spark, items: DataFrame):
    """Encode each doc's distinct item set as ceil(|V|/62) long-typed mask
    words (columns m0..m{n-1}) plus its cardinality n_items. Shared by the
    exact-Jaccard pair join and the LSH verify stage.

    Returns (masks DataFrame, n_words). The mask table itself is
    localCheckpoint'd because downstream pair joins read it from both sides
    and Spark re-runs upstream tokenize/explode lineage per read — measured
    48.9 s → 11 s at sf0.1 for dedup_ngram_jaccard before materialization.
    """
    items = items.localCheckpoint()
    # Dense term ids via the distributed zipWithIndex relation (_dense_ids,
    # the _packed_corpus pattern) — the vocabulary never converges on the
    # driver (r9: this was the engine's LAST vocabulary driver-collect).
    # Any consistent term→id bijection yields identical masks, so the
    # arbitrary-but-frozen zipWithIndex order replaces the old sorted
    # driver-side assignment unchanged. The id table is broadcast-joined
    # below the same dictionary-fits-one-heap ceiling the GEMM pack uses.
    vocab_ids, n_vocab = _dense_ids(
        spark, items.select(F.col("item").alias("t"))
    )
    n_words = max(1, (n_vocab + 61) // 62)
    vid = vocab_ids.withColumnRenamed("t", "item")
    vmap = F.broadcast(vid) if n_vocab <= ceilings.VOCAB_BROADCAST_MAX_TERMS else vid
    t = items.join(vmap, "item").select("doc_id", "tid")
    word_of = F.floor(F.col("tid") / 62).cast("int")
    # SQL shiftleft takes column args; the pyspark wrapper insists on an int
    bit_value = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(tid % 62 AS INT))")
    masks = t.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(word_of == w, bit_value).otherwise(F.lit(0).cast("long"))
            ).alias(f"m{w}")
            for w in range(n_words)
        ],
        F.count(F.lit(1)).alias("n_items"),
    ).localCheckpoint()  # read twice (both sides of the pair join)
    return masks, n_words


def _packed_corpus_cached(spark, sf_dir: str, kind: str, docs_builder):
    """_packed_corpus as a session memo, one entry per term kind.
    dedup_ngram_jaccard and dedup_containment build the IDENTICAL bigram
    pack (and text_knn_jaccard_docs the unigram one); within a session the
    pack is a reusable index — the production pattern of persisting the
    shingle index once and running many similarity queries against it."""
    return memo(
        spark, sf_dir, "documents", f"corpus/{kind}",
        lambda: _packed_corpus(spark, docs_builder()),
    )


def _dense_ids(spark, terms: DataFrame):
    """Distributed dense id assignment over a single-column relation of
    terms: distinct → RDD.zipWithIndex. The vocabulary NEVER converges on
    the driver — ids are assigned by zipWithIndex's two distributed jobs
    (per-partition counts, then offset+position) and consumed via a join;
    the only value the driver holds is n_vocab, a single long. Returns
    (vocab_ids DataFrame (t, tid), n_vocab). Shared by the GEMM corpus
    pack and the bitmask mask build (r9 — the LAST vocabulary
    driver-collect, _doc_bitmasks', now routes here too)."""
    vocab = terms.distinct()
    vocab_ids = spark.createDataFrame(
        vocab.rdd.map(lambda r: r[0]).zipWithIndex(), "t string, tid long"
    ).localCheckpoint()  # freeze the assignment: ids must be identical
    # across every later read (A pack, B pack, grid blocks)
    return vocab_ids, vocab_ids.count()


def _dense_vocab_ids(spark, docs: DataFrame):
    """_dense_ids over a (doc_id, terms array) relation's exploded terms."""
    return _dense_ids(spark, docs.select(F.explode("terms").alias("t")))


def _packed_corpus(spark, docs: DataFrame):
    """Distributed build of the bit-packed corpus matrix.

    Returns (docs_ids, vocab_ids, B operand): docs_ids is the checkpointed
    (doc_id, term_ids array<long>) relation both the A stream and the B
    pack consume; vocab_ids the distributed (t, tid) dense-id table; and
    the B operand the "bits" :class:`~upflow_spark.pipeline.packed.Packed`
    of docs_ids, width n_vocab — broadcast or checkpointed block rows, as
    packed.pack's one ceilings.BROADCAST_MAX_BYTES gate decides.

    Driver footprint is bounded, not constant. Under the vocab ceiling the
    driver collects the distinct terms — at most ceilings.VOCAB_BROADCAST_MAX_TERMS
    + 1 Rows, the +1 only to detect overflow — and builds a sorted list, a
    term→id dict and a pickled broadcast of that dict from them. Python
    Rows and str objects cost several times the bytes of a compact JVM
    broadcast block (~100+ bytes per short term, so a few hundred MB at
    the 4M-term ceiling); that worst case is what the ceiling bounds. Past
    the ceiling, ids come from a distributed zipWithIndex joined by
    shuffle and the driver holds n_vocab only. The pack itself collects
    no rows: under the broadcast ceiling the driver holds the packed block
    BYTES (one binary cell per worker batch, n × |V|/8 in all); past it
    the matrix never converges anywhere at all.
    """
    import numpy as np
    import pandas as pd

    # docs is read twice (vocab pass + id pass); materialize once so the
    # tokenize lineage doesn't rerun per pass
    docs = docs.localCheckpoint()
    # r15 (guide §1.2 — the pack build was ~13 serial jobs and dominated
    # the consumers' COLD column): under the vocab broadcast ceiling the
    # dense ids are assigned from ONE bounded collect of the distinct-term
    # relation — the limit(ceiling+1) caps the number of driver-side Rows
    # (see the docstring for their Python-object cost), and sorted() makes
    # the assignment deterministic. Ids only index matrix columns, so ANY bijection
    # yields identical intersection counts/scores; the (t, tid) relation
    # is returned for interface compatibility but nothing consumes it.
    # The id pass is then one map-only Arrow kernel over the checkpointed
    # docs (no explode, no vocab shuffle join, no groupBy re-assembly).
    # Past the ceiling the original distributed zipWithIndex + join path
    # runs unchanged — the 100 TB shape, test-forced for output equality.
    vocab_probe = (
        docs.select(F.explode("terms").alias("t"))
        .distinct()
        .limit(ceilings.VOCAB_BROADCAST_MAX_TERMS + 1)
        .collect()
    )
    if len(vocab_probe) <= ceilings.VOCAB_BROADCAST_MAX_TERMS:
        terms_sorted = sorted(r["t"] for r in vocab_probe if r["t"] is not None)
        n_vocab = len(terms_sorted)
        vd = {t: i for i, t in enumerate(terms_sorted)}
        vocab_ids = spark.createDataFrame(
            list(vd.items()), "t string, tid long"
        )
        bc_vocab = spark.sparkContext.broadcast(vd)

        def to_ids(batches):
            m = bc_vocab.value
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy(np.int64),
                        # NULL arrays and elements map as the join path
                        # maps them: no ids, no term
                        "term_ids": [
                            [] if terms is None else [m[t] for t in terms if t is not None]
                            for terms in pdf["terms"]
                        ],
                    }
                )

        docs_ids = docs.mapInPandas(
            to_ids, "doc_id long, term_ids array<long>"
        ).localCheckpoint()
    else:
        vocab_ids, n_vocab = _dense_vocab_ids(spark, docs)
        tok = docs.select("doc_id", F.explode("terms").alias("t"))
        grouped = (
            tok.join(vocab_ids, "t").groupBy("doc_id").agg(
                F.collect_list("tid").alias("term_ids")
            )
        )
        # left join back so docs with EMPTY term sets (1-token docs have
        # no bigrams) keep their zero matrix row (the kernel path emits
        # [] for them naturally)
        docs_ids = (
            docs.select("doc_id")
            .join(grouped, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("term_ids", F.array().cast("array<long>")).alias(
                    "term_ids"
                ),
            )
            .localCheckpoint()
        )
    return docs_ids, vocab_ids, pack(spark, docs_ids, "bits", n_vocab)


def _jaccard_pairs_gemm(
    spark, docs: DataFrame, threshold: float, measure: str = "jaccard", packed=None
) -> DataFrame:
    """All doc pairs with exact set similarity >= threshold over a BOUNDED
    item vocabulary, via blocked binary-matrix multiplication.

    measure: "jaccard" (symmetric |A∩B|/|A∪B|, emits a<b pairs) or
    "containment" (directed |A∩B|/|A|, emits all a≠b ordered pairs —
    catches subset-duplication that Jaccard under-scores).

    docs: (doc_id, terms array<string>) with per-doc distinct terms. Each
    doc becomes a 0/1 row of a dense
    (n_docs × |V|) float32 matrix; pairwise intersection cardinalities are
    then one BLAS GEMM per A-block against the broadcast B matrix —
    exact, because 0/1 dot products are small integers (≤ |V| « 2^24, the
    float32 exact-integer range). Measured 0.22 s for the full 12.5M-pair
    workload at sf0.1 vs 2.3 s for the bitmask BroadcastNestedLoopJoin —
    row-at-a-time join iteration can't compete with a vectorized kernel.

    Topology (nothing unbounded on the driver): under
    ceilings.VOCAB_BROADCAST_MAX_TERMS the vocabulary ids come from one bounded
    driver collect of at most ceilings.VOCAB_BROADCAST_MAX_TERMS + 1 distinct-term
    Rows, assigned in sorted order and broadcast to a map-only id kernel
    (_packed_corpus has the driver-memory accounting); past it, from a
    DISTRIBUTED zipWithIndex joined by shuffle onto the exploded token
    stream, with only n_vocab on the driver. The B-side bit matrix is the
    packed.pack operand of the id relation: workers bit-pack their
    partitions into block rows and the driver assembles only those bytes
    (n × |V|/8 ≈ 0.6 MB at sf0.1) — never token arrays or Row objects, so
    its memory is ∝ packed-matrix size, not corpus text. The A side
    STREAMS from the id relation through packed.pair_cells (one BLAS GEMM
    per block against broadcast B) — no driver round-trip on the A path at
    all. At 100 TB this is the standard block-distributed similarity
    matmul: broadcast the smaller packed operand, stream the big side,
    grid-block both when neither fits.
    """
    import numpy as np
    import pandas as pd

    docs_ids, _vocab_ids, op = (
        packed if packed is not None else _packed_corpus(spark, docs)
    )
    thr = float(threshold)
    directed = measure == "containment"
    blk = 512  # GEMM block rows: bounds the (blk × n_b_block) score slab

    def cell(a_ids_full, amat_full, b_ids, b_mat):
        """Yield pair frames for one A operand vs one B operand, in
        512-row sub-blocks — the one kernel both sides of the ceiling run.

        Memory discipline (r8): the pair grid is scored in FLOAT32 with a
        slightly-permissive prefilter (thr − 1e-4), and exact float64
        division runs only on the surviving candidates. inter and the
        denominators are exact small integers in float32 (≤ |V| < 2^24),
        so the prefilter is a guaranteed superset of the float64 keep set
        (1e-4 relative slack dwarfs float32's 1e-7 rounding); the final
        float64 `score >= thr` filter restores the exact boundary. Peak
        per-block temporaries drop ~3x (no float64 slabs over the full
        blk × n_b grid) and float64 work becomes ∝ emitted pairs — the
        allocation churn, not BLAS, dominated the sf1 kernel wall-time."""
        b_counts32 = b_mat.sum(axis=1, dtype=np.float32)
        for s in range(0, len(a_ids_full), blk):
            amat = amat_full[s : s + blk]
            a_ids = a_ids_full[s : s + blk]
            a_counts32 = amat.sum(axis=1, dtype=np.float32)
            inter = amat @ b_mat.T  # float32, exact integer counts
            if directed:
                denom = np.broadcast_to(a_counts32[:, None], inter.shape)
                idmask = a_ids[:, None] != b_ids[None, :]
            else:
                denom = a_counts32[:, None] + b_counts32[None, :] - inter
                idmask = a_ids[:, None] < b_ids[None, :]
            pre = (inter >= np.float32(thr - 1e-4) * denom) & idmask
            ai, bi = np.nonzero(pre)
            # empty term sets (e.g. 1-token docs have no bigrams) yield
            # 0/0 -> nan; nan >= thr is False, matching the oracle which
            # never emits such docs — silence the harmless warning
            with np.errstate(divide="ignore", invalid="ignore"):
                score = inter[ai, bi].astype(np.float64) / denom[ai, bi].astype(
                    np.float64
                )
                keep = score >= thr  # nan (0/0) compares False, silenced
            yield pd.DataFrame(
                {
                    "doc_a": a_ids[ai[keep]],
                    "doc_b": b_ids[bi[keep]],
                    "jac_raw": score[keep],
                }
            )

    # A side = the packed id relation itself, repartitioned for parallelism
    a_rows = docs_ids.repartition(spark.sparkContext.defaultParallelism)
    return pair_cells(op, a_rows, cell, "doc_a long, doc_b long, jac_raw double")


def _jaccard_pairs_bitmask(spark, items: DataFrame, threshold: float) -> DataFrame:
    """All doc pairs with exact Jaccard >= threshold over a BOUNDED item
    vocabulary, via bitmask set encoding.

    items: distinct (doc_id, item). Each document's item set becomes
    ceil(|V|/62) long-typed mask words; Jaccard is then
    bit_count(AND)/(|A|+|B|-bit_count(AND)) — pure codegen'd integer
    arithmetic over a repartitioned O(n²) pair join.

    Why not the classic per-item equi-join? On a small vocabulary every
    item is shared by thousands of docs, so the join intermediate is
    Σ_item (docs_per_item)² rows funneled through ~|V| join keys — skew +
    partial-agg spill (measured: 9+ min at sf0.1 vs seconds for this
    encoding; DuckDB's vectorized agg hides the same blowup locally but a
    cluster shuffle would not). The length prefilter (|A|,|B| within the
    threshold ratio) prunes inside the pair join. For OPEN vocabularies the
    mask grows — that regime belongs to dedup_near_minhash_lsh; the 100 TB
    equivalent of this encoding is a Roaring bitmap index.
    """
    masks, n_words = _doc_bitmasks(spark, items)
    par = spark.sparkContext.defaultParallelism
    a = masks.repartition(par).select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_items").alias("na"),
        *[F.col(f"m{w}").alias(f"a{w}") for w in range(n_words)],
    )
    b = masks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_items").alias("nb"),
        *[F.col(f"m{w}").alias(f"b{w}") for w in range(n_words)],
    )
    ratio = F.lit(float(threshold))
    # explicit broadcast of the build side: without the hint Catalyst plans
    # this non-equi join as CartesianProduct and AQE's replanned version can
    # run the whole O(n²) pair workload in ONE task (measured 58 s vs 3 s at
    # sf0.1). BroadcastNestedLoopJoin streams the repartitioned a-side, so
    # parallelism = `par` by construction — and at cluster scale the mask
    # table (one row per doc, a few long words) is exactly the side you'd
    # broadcast.
    pairs = a.join(
        F.broadcast(b),
        (F.col("doc_a") < F.col("doc_b"))
        # length prefilter: J >= t implies min/max cardinality ratio >= t
        & (F.col("na") >= F.col("nb") * ratio)
        & (F.col("nb") >= F.col("na") * ratio),
    )
    inter = sum(
        F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))) for w in range(n_words)
    ).cast("long")
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        pairs.withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= threshold)
        .select("doc_a", "doc_b", "jac_raw")
    )


def _simhash_bits(md5_of: str, n_digits: int = 32) -> list[str]:
    """SQL snippets: one majority-vote bit per md5 hex digit position."""
    return [
        f"CASE WHEN sum(CASE WHEN substr(md5({md5_of}), {j + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) >= 0 "
        f"THEN '1' ELSE '0' END"
        for j in range(n_digits)
    ]


@query(
    "dedup_simhash",
    oracle=f"""
SELECT doc_id, {" || ".join(_simhash_bits("term"))} AS simhash
FROM (SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents)
GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from md5(token) hex-digit majorities.

    Pure-SQL simhash: digit j of the signature is the sign of Σ±1 over
    tokens (+1 if the j-th hex digit of md5(token) has its high bit set).
    Near-duplicate docs differ in few bits; at scale, group by band
    substrings of the signature to find candidates without an all-pairs
    join. Frequency-weighted (explode keeps duplicate tokens).
    """
    # spread the single-file scan before tokenize (see dedup_near_minhash)
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # md5 hoisted into the projection: referencing F.md5("term") inside all
    # 32 aggregate expressions makes each partial-agg row evaluate the hash
    # up to 32 times (aggregate exprs don't share subexpressions the way a
    # single codegen'd Project does) — hashing once per token row is 32x
    # less digest work on the ~5M-row stream.
    # r15 (guide §1.2 per-task work): the per-digit majority votes are
    # INTEGER bit tests, not string ops — the digest parses ONCE per row
    # into four 32-bit chunks (8 hex chars each, always long-safe) and
    # digit j's high bit is bit 31-4*(j%8) of chunk j//8, so each of the
    # 32 partial aggregates evaluates one shift+and instead of a
    # substring + 8-way string IN (~160M string comparisons at sf0.1).
    # Majority identity: sum(±1) >= 0  ⇔  2*sum(bit) >= count — exact.
    tok = d.select("doc_id", F.explode(tokens_col()).alias("term")).select(
        "doc_id", F.md5("term").alias("h")
    )
    tokb = tok.select(
        "doc_id",
        *[
            F.conv(F.substring("h", 8 * c + 1, 8), 16, 10)
            .cast("long")
            .alias(f"c{c}")
            for c in range(4)
        ],
    )
    bits = []
    for j in range(32):
        c, k = j // 8, j % 8
        bit = F.shiftright(F.col(f"c{c}"), 31 - 4 * k).bitwiseAND(F.lit(1))
        bits.append(
            F.when(
                F.sum(bit) * 2 >= F.count(F.lit(1)), "1"
            ).otherwise("0")
        )
    return tokb.groupBy("doc_id").agg(F.concat(*bits).alias("simhash"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest(
    [toks[i] || ' ' || toks[i + 1] for i in range(1, len(toks))]
  ) AS shingle
  FROM (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents)
),
card AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       floor((CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)) * 10000 + 0.5) / 10000 AS jaccard
FROM inter
JOIN card ca ON ca.doc_id = doc_a
JOIN card cb ON cb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by bigram-shingle Jaccard ≥ 0.5 (order-sensitive:
    catches token reorderings that unigram Jaccard scores as identical)."""
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = tokens_col()
    # shingle → per-doc array_distinct → explode: the (doc_id, shingle)
    # stream is distinct by construction, so no post-explode shuffle. The
    # concat lambda runs interpreted but over only ~50 bigrams/doc — the
    # codegen'd slice+zip builder still produces the pairs (r4: measured
    # this variant at 0.4 s vs 1.9 s for explode+concat+distinct at sf0.1)
    bigrams = F.transform(
        bigram_struct_col(toks), lambda s: F.concat_ws(" ", s.a, s.b)
    )
    sh = d.select("doc_id", F.array_distinct(bigrams).alias("terms"))
    # GEMM pair kernel (r5; was the bitmask BNLJ at 4.8 s — the ~1000-bigram
    # vocab needs 16 mask words, and 12.5M row-at-a-time 16-word bit_count
    # evaluations lose to one BLAS matmul per block). The bigram pack is
    # session-memoized — dedup_containment reuses it as a shared index.
    packed = _packed_corpus_cached(spark, sf_dir, "bigram", lambda: sh)
    pairs = _jaccard_pairs_gemm(spark, sh, 0.5, packed=packed)
    return pairs.select("doc_a", "doc_b", r4(F.col("jac_raw")).alias("jaccard"))


def _cosine_pairs_gemm(spark, e: DataFrame, threshold: float) -> DataFrame:
    """All (vec_a < vec_b) embedding pairs with exact cosine >= threshold,
    via the blocked-matrix kernel discipline of :func:`_jaccard_pairs_gemm`.

    r14 (guide §4.2): the previous shape evaluated the cosine as an
    interpreted `aggregate(zip_with(...))` HOF once per pair of the
    O(n²) BroadcastNestedLoopJoin — 12.5M pair evals × 64 dims at sf0.1,
    measured 18-33 s on this box (HOFs codegen their PLAN but evaluate
    their lambdas interpreted). This kernel computes the identical IEEE
    float64 values vectorized: normalization and the dot product both
    accumulate DIM-SEQUENTIALLY (acc = ((0 + x0·y0) + x1·y1) + …, one
    fused numpy op per dimension, vectorized across PAIRS) — the exact
    fold order of `_unit`/`_cos` and of the DuckDB oracle's in-order list
    fold, so every cos_raw is bit-identical; no BLAS matmul is used
    precisely because its pairwise-blocked summation would reassociate.

    Topology: the raw vectors are the float64 packed.pack operand and the
    A stream; each cell normalizes its two operands (O(n·d), against the
    O(blk·n·d) scoring) so no normalized copy is materialized. Past
    ceilings.BROADCAST_MAX_BYTES the same cell runs over the block-row
    grid instead and the matrix never converges anywhere (test-forced;
    hash-identical output either way).
    """
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def unit(v):
        acc = np.zeros(len(v), dtype=np.float64)
        for k in range(v.shape[1]):  # _unit's exact fold order
            acc = acc + v[:, k] * v[:, k]
        return v / np.sqrt(acc)[:, None]

    def cell(a_ids_full, a_raw, b_ids, b_raw):
        amat_full, bmat = unit(a_raw), unit(b_raw)
        blk = 512  # bounds the (blk × n_b) float64 score slab
        for s in range(0, len(a_ids_full), blk):
            aid = a_ids_full[s : s + blk]
            a = amat_full[s : s + blk]
            acc = np.zeros((len(aid), len(b_ids)), dtype=np.float64)
            for k in range(a.shape[1]):  # _cos's exact fold order
                acc += a[:, k][:, None] * bmat[:, k][None, :]
            mask = (aid[:, None] < b_ids[None, :]) & (acc >= thr)
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"vec_a": aid[ai], "vec_b": b_ids[bi], "cos_raw": acc[ai, bi]}
            )

    v = e.repartition(spark.sparkContext.defaultParallelism)
    return pair_cells(pack(spark, v, "f64"), v, cell, "vec_a long, vec_b long, cos_raw double")


@query(
    "dedup_embedding_cosine",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor(({_sql_cos('a.embedding', 'b.embedding')}) * 10000 + 0.5) / 10000 AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_sql_cos('a.embedding', 'b.embedding')} >= 0.40
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: exact cosine >= threshold (semantic dedup).

    The fixture embeddings are near-isotropic random vectors (measured max
    pairwise cosine 0.60 at sf0.1), so a production-style 0.95 threshold is
    vacuous on this data — the key uses 0.40, which emits a real, modestly
    sized pair set at every sf (66 / 59 / 920 pairs at sf0.001/0.01/0.1) so
    the cosine math is actually exercised by the oracle comparison.

    Brute-force exact for the oracle (via the blocked float64 kernel —
    see :func:`_cosine_pairs_gemm` for the exact-parity argument); at
    100 TB route candidates through sim_ann_lsh buckets first, then
    verify with this exact cosine.
    """
    pairs = _cosine_pairs_gemm(
        spark, load(spark, sf_dir, "embeddings").select("vec_id", "embedding"), 0.40
    )
    return pairs.select("vec_a", "vec_b", r4(F.col("cos_raw")).alias("cos_sim"))


@query(
    "dedup_simhash_pairs",
    oracle=f"""
WITH sig AS (
  SELECT doc_id, {" || ".join(_simhash_bits("term"))} AS simhash
  FROM (SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents)
  GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_filter(range(1, 33),
                i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) AS BIGINT)
         AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE (substr(a.simhash, 1, 8) = substr(b.simhash, 1, 8)
    OR substr(a.simhash, 9, 8) = substr(b.simhash, 9, 8)
    OR substr(a.simhash, 17, 8) = substr(b.simhash, 17, 8)
    OR substr(a.simhash, 25, 8) = substr(b.simhash, 25, 8))
  AND len(list_filter(range(1, 33),
          i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) <= 3
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates via banding + Hamming verification.

    The banding theorem in action: a pair within Hamming distance 3 over 32
    bits must agree on at least one of four 8-bit bands (pigeonhole: 3 flips
    cannot touch all 4 bands; d=4 could), so
    grouping by band substrings finds ALL such pairs with equi-joins only —
    never an all-pairs scan. Four self-joins on (band_idx, band_value),
    deduped, then exact Hamming ≤ 3 verification. This is the 100 TB
    candidate generator for dedup_simhash signatures.
    """
    # signature as a LONG: Hamming becomes bit_count(xor) — one codegen'd
    # instruction chain per candidate instead of a 32-substring HOF (this
    # rewrite took the sf0.1 run from 156 s to seconds: templated fixture
    # docs make band buckets huge, so per-candidate cost dominates).
    # localCheckpoint: both sides of the band self-join read this DataFrame
    # and Spark does NOT share subplans, so without materialization the
    # whole tokenize+aggregate lineage runs twice — at 100 TB you'd persist
    # the signature table before any self-join for the same reason.
    cand = simhash_scored_candidates(spark, sf_dir)
    # verify BEFORE deduplicating: the Hamming filter is codegen'd and cuts
    # the candidate stream ~10x, so the distinct's shuffle sees only
    # survivors (a pair can match in up to 4 bands)
    return cand.filter(F.col("hamming") <= 3).dropDuplicates(["doc_a", "doc_b"])


def simhash_scored_candidates(
    spark: SparkSession, sf_dir: str, broadcast_build: bool = True
) -> DataFrame:
    """The banded candidate stream WITH its Hamming score, pre-filter and
    pre-distinct — the per-row work of dedup_simhash_pairs, exposed so
    tools/band_skew_probe.py can measure per-partition work balance under
    the fixture's hot band (and time the shuffle-join variant the
    open-vocabulary scale note promises, via broadcast_build=False)."""
    sig = (
        dedup_simhash(spark, sf_dir)
        .select("doc_id", F.conv("simhash", 2, 10).cast("long").alias("sig"))
        .localCheckpoint()
    )
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright("sig", 8 * i).bitwiseAND(F.lit(255)).alias("band_val"),
                )
                for i in range(4)
            ])
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_idx", "band.band_val")
    # broadcast the build side: only 4×256 possible (band_idx, band_val)
    # keys exist, so a shuffle join funnels 15k rows through ≤1024 heavily
    # skewed partitions (templated docs make a few bands huge) while the
    # whole band table is a few hundred KB — broadcast-hash keeps
    # parallelism at the stream side's partitioning (measured 6.7 s → ~3 s
    # for the full key at sf0.1). Same shape as the LSH key's candidate
    # join; at open-vocabulary scale the band space grows and the standard
    # shuffle equi-join + AQE skew-split takes over.
    par = spark.sparkContext.defaultParallelism
    a = bands.repartition(par).alias("a")
    b = bands.alias("b")
    build = F.broadcast(b) if broadcast_build else b
    return a.join(
        build,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("long").alias(
            "hamming"
        ),
    )


@query(
    "dedup_containment",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest(
    [toks[i] || ' ' || toks[i + 1] for i in range(1, len(toks))]
  ) AS shingle
  FROM (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents)
),
card AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       floor((CAST(n_common AS DOUBLE) / ca.n_sh) * 10000 + 0.5) / 10000 AS containment
FROM inter
JOIN card ca ON ca.doc_id = doc_a
WHERE CAST(n_common AS DOUBLE) / ca.n_sh >= 0.8
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED near-duplicate detection by bigram-shingle containment
    C(A→B) = |A∩B| / |A| ≥ 0.8: doc_a's shingles are (mostly) a subset of
    doc_b's. The measure Jaccard systematically under-scores — a paragraph
    quoted inside a much longer document has high containment but low
    Jaccard — making this the curation op for excerpt/superset duplication
    (and the pairwise core of decontamination against a benchmark corpus).

    Same blocked-GEMM kernel as dedup_ngram_jaccard (one matmul per doc
    block against the bit-packed broadcast matrix), only the denominator
    and the pair orientation differ; at 100 TB the asymmetric threshold
    prunes by |A| alone (any small-side length filter keeps recall 1.0).
    """
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = tokens_col()
    bigrams = F.transform(
        bigram_struct_col(toks), lambda s: F.concat_ws(" ", s.a, s.b)
    )
    sh = d.select("doc_id", F.array_distinct(bigrams).alias("terms"))
    packed = _packed_corpus_cached(spark, sf_dir, "bigram", lambda: sh)
    pairs = _jaccard_pairs_gemm(spark, sh, 0.8, measure="containment", packed=packed)
    return pairs.select("doc_a", "doc_b", r4(F.col("jac_raw")).alias("containment"))


@query(
    "dedup_incremental_batch",
    oracle="""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
     batch  AS (SELECT * FROM documents WHERE doc_id % 10 = 0)
SELECT b.doc_id,
       CASE WHEN md5(b.text) IN (SELECT md5(text) FROM corpus) THEN 'exact_dup'
            WHEN md5(substr(b.text, 1, 100)) IN
                 (SELECT md5(substr(text, 1, 100)) FROM corpus) THEN 'near_dup'
            ELSE 'new' END AS ingest_status
FROM batch b
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: classify an incoming BATCH (doc_id ≡ 0
    mod 10 — the stated deterministic split) against the EXISTING corpus
    (the rest) — exact_dup (full-content digest already present), near_dup
    (100-char-prefix digest present), else new. This is the shape every
    continuously-fed training corpus runs on arrival: dedup against the
    index, never re-pairing the whole corpus.

    Plan: the corpus collapses to two digest sets (one groupBy each) that
    join to the batch as broadcast semi-joins — at 100 TB the corpus-side
    digest index is the thing you keep materialized between ingests, and
    the per-batch cost is proportional to the BATCH, not the corpus.
    """
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    full_idx = corpus.select(F.md5("text").alias("full_md5")).distinct()
    pre_idx = corpus.select(
        F.md5(F.substring("text", 1, 100)).alias("pre_md5")
    ).distinct()
    b = batch.select(
        "doc_id",
        F.md5("text").alias("b_full"),
        F.md5(F.substring("text", 1, 100)).alias("b_pre"),
    )
    hit_full = b.join(
        F.broadcast(full_idx), b.b_full == full_idx.full_md5, "left"
    )
    hit_both = hit_full.join(
        F.broadcast(pre_idx), hit_full.b_pre == pre_idx.pre_md5, "left"
    )
    status = (
        F.when(F.col("full_md5").isNotNull(), "exact_dup")
        .when(F.col("pre_md5").isNotNull(), "near_dup")
        .otherwise("new")
    )
    return hit_both.select("doc_id", status.alias("ingest_status"))


@query(
    "text_knn_jaccard_docs",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
),
card AS (SELECT doc_id, count(*) AS n_terms FROM tok GROUP BY doc_id),
probes AS (SELECT doc_id FROM documents WHERE doc_id % 100 = 0),
inter AS (
  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id, count(*) AS n_common
  FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id <> b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM probes)
  GROUP BY query_id, neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(n_common AS DOUBLE) / (ca.n_terms + cb.n_terms - n_common) AS j,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY CAST(n_common AS DOUBLE)
                                     / (ca.n_terms + cb.n_terms - n_common) DESC,
                                     neighbor_id ASC) AS rn
  FROM inter
  JOIN card ca ON ca.doc_id = query_id
  JOIN card cb ON cb.doc_id = neighbor_id
)
SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rn,
       floor(j * 10000 + 0.5) / 10000 AS jaccard
FROM scored WHERE rn <= 3
""",
)
def text_knn_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level k-NN retrieval: for each probe doc (doc_id ≡ 0 mod
    100), the 3 most token-set-similar OTHER documents by exact Jaccard —
    the "more like this" lookup, where the pair keys answer "what
    duplicates exist".

    Same blocked-GEMM engine as the pair keys (the _packed_corpus operand
    — the driver assembles packed block bytes, never rows) with the A side restricted to the probe rows,
    STREAMED from the scan through the kernel: one (probe_block × n_docs)
    score slab per batch, top-3 inside the kernel — the full candidate row
    never leaves the worker. Only neighbors with jaccard > 0 qualify (the
    oracle's shared-term inner join can't emit zero-overlap docs; on a
    sparse corpus a probe may legitimately get < 3 neighbors). At 100 TB
    probes stream against the broadcast (or IVF-routed) corpus exactly
    like knn_classify_ann.
    """
    import numpy as np
    import pandas as pd

    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    docs = d.select("doc_id", F.array_distinct(tokens_col()).alias("terms"))
    docs_ids, _vocab_ids, op = _packed_corpus_cached(
        spark, sf_dir, "unigram", lambda: docs
    )

    def cell(a_ids, amat, b_ids, b_mat):
        a_counts = amat.sum(axis=1, dtype=np.float64)
        b_counts = b_mat.sum(axis=1, dtype=np.float64)
        inter = (amat @ b_mat.T).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = inter / (a_counts[:, None] + b_counts[None, :] - inter)
        jac[np.isnan(jac)] = -1.0
        # exclude self; deterministic top-3 by (jaccard desc, id asc);
        # only true-overlap neighbors (jaccard > 0) are candidates
        out = {"query_id": [], "neighbor_id": [], "rn": [], "jaccard": []}
        for qi in range(len(a_ids)):
            row = jac[qi].copy()
            row[b_ids == a_ids[qi]] = -1.0
            order = np.lexsort((b_ids, -row))
            rank = 0
            for bi in order[:3]:
                if row[bi] <= 0.0:
                    break
                rank += 1
                out["query_id"].append(a_ids[qi])
                out["neighbor_id"].append(b_ids[bi])
                out["rn"].append(rank)
                out["jaccard"].append(row[bi])
        # explicit dtypes: an all-probes-filtered batch yields an empty
        # frame whose object columns Arrow can't coerce to long
        yield pd.DataFrame(
            {
                "query_id": np.asarray(out["query_id"], dtype=np.int64),
                "neighbor_id": np.asarray(out["neighbor_id"], dtype=np.int64),
                "rn": np.asarray(out["rn"], dtype=np.int64),
                "jaccard": np.asarray(out["jaccard"], dtype=np.float64),
            }
        )

    probes = docs_ids.filter(F.col("doc_id") % 100 == 0).repartition(
        spark.sparkContext.defaultParallelism
    )
    res = pair_cells(
        op, probes, cell, "query_id long, neighbor_id long, rn long, jaccard double"
    )
    if op.bc is None:
        # each grid cell ranked one B block: the global top-3 is inside the
        # union of the per-block top-3s, so a window over those (≤ 3 ×
        # n_blocks per probe) re-ranks them. Against the broadcast the
        # cell saw all of B and its rank is already the global one.
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.col("jaccard").desc(), F.col("neighbor_id").asc()
        )
        res = res.withColumn("rn", F.row_number().over(w).cast("long")).filter(
            F.col("rn") <= 3
        )
    return res.select("query_id", "neighbor_id", "rn", r4("jaccard").alias("jaccard"))


def ann_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-candidate pairs passing the L2 candidate gate, with their EXACT
    unit cosine (cos_raw) — the pair-level core of emb_dedup_ann_verified;
    pipeline_semantic_funnel_ann consumes the cos_raw >= 0.40 slice as the
    production near-dup edge set. See emb_dedup_ann_verified for the full
    design story (fused kernel, float32 prefilter, cached LSH index).
    """
    import numpy as np
    import pandas as pd

    from upflow_spark.pipeline.similarity import lsh_candidates, packed_embeddings_cached

    par = spark.sparkContext.defaultParallelism
    cand = lsh_candidates(spark, sf_dir).select("vec_a", "vec_b")
    op = packed_embeddings_cached(
        spark,
        sf_dir,
        "unit",
        lambda: load(spark, sf_dir, "embeddings")
        .repartition(par)
        .select("vec_id", _unit("embedding").alias("emb")),
    )
    # ann_lsh_pairs' raw-L2 gate, in cosine form: the fixture embeddings
    # are unit-norm to float32 precision (measured max |.v.-1| = 1.2e-7),
    # so dist < 1.35 <=> cos > 1 - 1.35^2/2 up to that band - ONE matrix
    # gather instead of two (the raw pack is never touched). Pairs inside
    # the +-5e-7 boundary band could classify differently than
    # ann_lsh_pairs' literal gate; the 0.40 verify threshold sits far
    # above the gate, so the VERIFIED set is unaffected either way.
    cos_gate = 1.0 - 1.35 * 1.35 / 2.0

    def verify(pdf, take):
        # float32 prefilter (the dedup_containment pattern): the 1.39M
        # candidate gathers dominate kernel time; gathering them from the
        # task's float32 copy of the broadcast halves the memory traffic,
        # and only the gate-superset survivors (+-1e-4 margin >> the ~1e-6
        # accumulated float32 error over 64 dims) are re-scored exactly in
        # float64 - output bit-identical. One unit-cosine pass serves BOTH
        # stages: the L2 candidate gate (cosine form, see cos_gate above)
        # and the 0.40 dedup verify downstream (the brute-force math).
        pre = (
            np.einsum("ij,ij->i", *take(dtype=np.float32)).astype(np.float64)
            > cos_gate - 1e-4
        )
        cos = np.einsum("ij,ij->i", *take(pre)).astype(np.float64)
        keep = cos > cos_gate
        return pd.DataFrame(
            {
                "vec_a": pdf["vec_a"].to_numpy(np.int64)[pre][keep],
                "vec_b": pdf["vec_b"].to_numpy(np.int64)[pre][keep],
                "cos_raw": cos[keep],
            }
        )

    return gather_pairs(op, cand, verify, "vec_a long, vec_b long, cos_raw double")


@query("emb_dedup_ann_verified")  # rows-only: candidates come from LSH buckets
def emb_dedup_ann_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual two-stage embedding dedup promised by
    dedup_embedding_cosine's scale note: random-projection-LSH candidate
    generation (ann_lsh_pairs, bucket-local) followed by EXACT cosine ≥
    0.40 verification — candidates ∝ near pairs, never O(n²), and the
    verify computes the same normalize-first dot as the exact key, so every
    emitted pair would also be emitted by the brute force.

    Verify stage (r9 fusion; r6 built the kernels): one Arrow pass now does
    BOTH verifies — the raw candidates from lsh_candidates flow through a
    single numpy gather+einsum kernel whose one exact unit-cosine serves
    ann_lsh_pairs' L2 < 1.35 candidate gate (in cosine form — the vectors
    are unit-norm, see cos_gate) and the 0.40 dedup verify (identical math
    to dedup_embedding_cosine). The r8 shape materialized + localCheckpoint'd
    the L2-verified pair set and re-read it through a SECOND kernel
    (checkpoint write + extra Arrow round-trip per query, and a re-fit of
    the LSH model per call — measured 3.4-5.3 s clean-session at sf0.1);
    fused + signature-index-cached it is one candidate stream, no
    intermediate relation anywhere. The packed matrix is the float64
    packed.pack operand (workers pack block rows; the driver assembles
    block bytes only), and packed.gather_pairs runs the one verify
    against it on either side of the broadcast ceiling.

    Summary-row output (candidate count, verified count, order-insensitive
    checksum, mean cosine); tests/test_ops.py floors the recall of the
    verified set against dedup_embedding_cosine's exact pairs.
    """
    scored = ann_scored_pairs(spark, sf_dir)
    ph = (
        F.col("vec_a") * F.lit(2654435761) + F.col("vec_b") * F.lit(40503)
    ) % F.lit(4294967296)
    return scored.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(F.col("cos_raw") >= 0.40, 1)).alias("n_verified"),
        F.sum(F.when(F.col("cos_raw") >= 0.40, ph)).cast("long").alias("pair_checksum"),
        r4(F.avg(F.when(F.col("cos_raw") >= 0.40, F.col("cos_raw")))).alias(
            "mean_verified_cos"
        ),
    )
