"""Semantic checks for rows-only keys + cross-key invariants (SURVEY §5.4-5.6).

The oracle mirror covers SQL-expressible keys; these tests pin the behavior
of the keys the driver can only rows-check: sketches stay within error
bounds, LSH variants recall what the exact algorithms find, streaming
append-mode respects watermark finalization, and the as-of join satisfies
its defining property row-by-row.
"""

from __future__ import annotations

import pandas as pd
import pytest

import upflow_spark  # noqa: F401
from upflow_spark.registry import QUERIES

SF = "/root/testdata/sf0.01"


def test_entry_smoke(spark):
    import __spark_entry__ as E

    rows = E.entry(spark).collect()
    assert len(rows) > 0
    assert set(E.oracle_sql()) <= set(E.queries())


def test_approx_count_distinct_within_2pct(spark):
    from upflow_spark.io import load
    from pyspark.sql import functions as F

    rows = {
        r["event_type"]: r
        for r in QUERIES["agg_approx_count_distinct"](spark, SF).collect()
    }
    approx = {
        r["event_type"]: r["approx"]
        for r in load(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for et, n in exact.items():
        assert rows[et]["exact_users"] == n
        assert rows[et]["within_bounds"] is True
        assert abs(approx[et] - n) / n <= 0.02, (et, approx[et], n)


def test_minhash_lsh_recalls_exact_near_dups(spark):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_near_minhash"](spark, SF).collect()
    }
    from upflow_spark.pipeline.dedup import minhash_lsh_pairs

    approx = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(spark, SF).collect()
    }
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall} over {len(exact)} exact pairs"
    # no self-pairs, orientation invariant holds
    assert all(a < b for a, b in approx)
    # the graded summary key must agree with the pair-level surface
    summ = QUERIES["dedup_near_minhash_lsh"](spark, SF).collect()
    assert len(summ) == 1 and summ[0]["n_pairs"] == len(approx)


def test_ann_lsh_sane(spark):
    from upflow_spark.pipeline.similarity import ann_lsh_pairs

    pairs = ann_lsh_pairs(spark, SF).collect()
    assert all(r["vec_a"] < r["vec_b"] for r in pairs)
    assert all(r["l2_dist"] >= 0 for r in pairs)
    # graded summary must agree with the pair-level surface
    summ = QUERIES["sim_ann_lsh"](spark, SF).collect()
    assert len(summ) == 1 and summ[0]["n_pairs"] == len(pairs)


def test_watermark_append_is_subset_of_complete(spark):
    appended = {
        r["win_start"]: r["n_events"]
        for r in QUERIES["stream_watermark_late"](spark, SF).collect()
    }
    complete = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in QUERIES["stream_tumbling"](spark, SF).collect()
    }
    # complete-mode totals per window (tumbling key is per event_type)
    totals: dict = {}
    for (ws, _), n in complete.items():
        totals[ws] = totals.get(ws, 0) + n
    assert appended, "append mode emitted nothing — availableNow finalization broke"
    for ws, n in appended.items():
        assert totals.get(ws) == n, (ws, n, totals.get(ws))
    # late watermark must finalize strictly fewer-or-equal windows
    assert len(appended) <= len(totals)


def test_asof_property_latest_click_at_or_before(spark):
    out = QUERIES["join_asof"](spark, SF).toPandas()
    from upflow_spark.io import load

    ev = load(spark, SF, "events").select("event_id", "user_id", "ts", "event_type").toPandas()
    clicks = ev[ev.event_type == "click"]
    purchases = ev[ev.event_type == "purchase"].set_index("event_id")
    merged = out.merge(
        purchases[["user_id", "ts"]],
        left_on="purchase_id",
        right_index=True,
        suffixes=("", "_p"),
    )
    for _, row in merged.sample(min(200, len(merged)), random_state=7).iterrows():
        p_ts = row["ts"]  # purchase event time from the right side of the merge
        user_clicks = clicks[(clicks.user_id == row.user_id) & (clicks.ts <= p_ts)]
        if user_clicks.empty:
            assert pd.isna(row.last_click_id)
        else:
            expect = user_clicks.sort_values("ts").iloc[-1]
            assert row.last_click_id == expect.event_id, (row.purchase_id,)


def test_sink_roundtrip_counts_match(spark):
    row = QUERIES["sink_parquet_roundtrip"](spark, SF).collect()[0]
    assert row["n_rows"] == row["n_expected"] > 0


def test_simhash_closer_for_similar_docs(spark):
    """SimHash sanity: a doc's signature is 32 bits; hamming(sig, sig)=0 and
    signatures are not all identical across docs."""
    sigs = [r["simhash"] for r in QUERIES["dedup_simhash"](spark, SF).collect()]
    assert all(len(s) == 32 and set(s) <= {"0", "1"} for s in sigs)
    assert len(set(sigs)) > 1


def test_percentile_approx_error_bounded(spark):
    """The graded key now emits rank-bound booleans (r4 oracle-able shape);
    this test keeps the raw VALUE-space check by recomputing the GK sketch
    inline against the exact key."""
    from pyspark.sql import functions as F
    from upflow_spark.io import load

    rows = QUERIES["agg_percentile_approx"](spark, SF).collect()
    assert rows and all(r["sketch_within_rank_bounds"] for r in rows)
    o = load(spark, SF, "orders")
    approx = {
        r["o_orderpriority"]: (r["am"], r["ap"])
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 1000).alias("am"),
            F.percentile_approx("o_totalprice", 0.9, 1000).alias("ap"),
        )
        .collect()
    }
    exact = {
        r["o_orderpriority"]: (r["median_price"], r["p90_price"])
        for r in QUERIES["agg_percentile"](spark, SF).collect()
    }
    for pri, (m, p90) in exact.items():
        am, ap = approx[pri]
        assert abs(am - m) / m < 0.02, (pri, am, m)
        assert abs(ap - p90) / p90 < 0.02, (pri, ap, p90)


def test_ivf_recall_vs_exact_topk(spark):
    """IVF recall floor. The fixture embeddings are near-random w.r.t. their
    labels at this sf (a probe's exact top-10 spans ~7 of 10 labels at
    cosine ≈ 0.3), so label-cell IVF recall is bounded by ~nprobe/n_cells —
    assert that floor, plus structural sanity (results ⊆ probed cells'
    members, sorted by cosine). With genuinely clustered vectors the same
    operator approaches recall 1.0.
    """
    from upflow_spark.pipeline.ann_ivf import NPROBE

    exact = [r["vec_id"] for r in QUERIES["sim_probe_topk"](spark, SF).collect()]
    rows = QUERIES["sim_ann_ivf"](spark, SF).collect()
    ivf = [r["vec_id"] for r in rows]
    recall = len(set(exact) & set(ivf)) / len(exact)
    assert recall >= NPROBE / 10 - 0.05, f"IVF recall {recall}"
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert len({r["label"] for r in rows}) <= NPROBE


def test_stratified_sample_within_binomial_bounds(spark):
    from upflow_spark.io import load
    from pyspark.sql import functions as F

    got = {
        r["event_type"]: r["n_sampled"]
        for r in QUERIES["sample_stratified"](spark, SF).collect()
    }
    totals = {
        r["event_type"]: r["n"]
        for r in load(spark, SF, "events").groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    fractions = {"click": 0.2, "view": 0.2, "purchase": 1.0, "signup": 1.0, "error": 1.0}
    for et, frac in fractions.items():
        n, k = totals[et], got.get(et, 0)
        if frac == 1.0:
            assert k == n, (et, k, n)
        else:
            mean, sd = n * frac, (n * frac * (1 - frac)) ** 0.5
            assert abs(k - mean) <= 5 * sd, (et, k, mean, sd)


def test_kmeans_ivf_recall_and_structure(spark):
    """k-means IVF: same recall floor as label-cell IVF (the fixture
    embeddings are near-random, so any K-cell quantizer scans ~nprobe/K of
    the corpus), plus structural checks — ≤ NPROBE distinct cells probed,
    scores sorted, and the top-1 exact neighbor found iff its cell was
    probed (which the floor assertion covers statistically)."""
    from upflow_spark.pipeline.ann_ivf import K_CELLS, NPROBE, TOP_K

    exact = [r["vec_id"] for r in QUERIES["sim_probe_topk"](spark, SF).collect()]
    rows = QUERIES["sim_ann_ivf_kmeans"](spark, SF).collect()
    assert len(rows) == TOP_K
    got = [r["vec_id"] for r in rows]
    recall = len(set(exact) & set(got)) / len(exact)
    assert recall >= NPROBE / K_CELLS - 0.2, f"kmeans IVF recall {recall}"
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert len({r["cell"] for r in rows}) <= NPROBE
    assert 0 not in got  # probe excluded from its own neighbor list


def test_hll_sketch_error_bound_and_merge(spark):
    """HLL estimates within 5% of exact; merged per-group sketches give
    EXACTLY the same estimate as one direct global sketch (mergeability —
    the property that makes sketch rollups scan-free)."""
    from pyspark.sql import functions as F
    from upflow_spark.io import load

    rows = {r["o_orderpriority"]: r for r in QUERIES["agg_hll_sketch"](spark, SF).collect()}
    assert all(r["est_within_bounds"] for r in rows.values()), rows
    assert "__all__" in rows
    o = load(spark, SF, "orders")
    # raw estimate + mergeability checks, recomputed inline (the graded key
    # now emits exact counts + bound booleans — the r4 oracle-able shape)
    union_est = (
        o.groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]["e"]
    )
    direct = o.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("e"),
        F.count_distinct("o_custkey").alias("x"),
    ).collect()[0]
    # not bit-equal: a direct sketch keeps its HIP estimator, a union
    # invalidates HIP and falls back to the composite estimator — the
    # register state is identical, the ESTIMATOR is path-dependent
    assert abs(union_est - direct["e"]) / direct["e"] < 0.01, (union_est, direct["e"])
    assert abs(union_est - direct["x"]) / direct["x"] < 0.05


def test_embedding_cosine_dedup_not_vacuous(spark):
    """The graded threshold must emit REAL pairs at every sf (a 0-row result
    hash-matches a 0-row oracle without exercising the cosine math at all —
    VERDICT r1 flagged exactly that regression)."""
    rows = QUERIES["dedup_embedding_cosine"](spark, SF).collect()
    assert len(rows) > 0, "dedup_embedding_cosine is vacuous at sf0.01"
    assert all(r["vec_a"] < r["vec_b"] for r in rows)
    assert all(0.40 <= r["cos_sim"] <= 1.0 for r in rows)


def test_devacuated_keys_emit_rows_at_grading_scale(spark):
    """VERDICT r5: q_parts_above_avg_price, join_left_anti and
    dedup_exact_content hash-matched on 0 rows at the sf0.01 grading scale,
    so the shapes they exist to grade (scalar-subquery broadcast crossJoin,
    anti join, digest grouping) were never exercised on data. Pin non-empty
    results so a fixture regeneration can't silently re-vacuate them (the
    r3 set-ops lesson)."""
    n_parts = QUERIES["q_parts_above_avg_price"](spark, SF).count()
    assert n_parts > 0, "q_parts_above_avg_price vacuous at sf0.01"
    n_anti = QUERIES["join_left_anti"](spark, SF).count()
    assert n_anti > 0, "join_left_anti vacuous at sf0.01"
    rows = QUERIES["dedup_exact_content"](spark, SF).collect()
    assert len(rows) > 0, "dedup_exact_content vacuous at sf0.01"
    # assignment form: one verdict per document, keep_doc_id <= doc_id
    assert all(r["keep_doc_id"] <= r["doc_id"] for r in rows)
    assert all(r["is_dup"] == (r["keep_doc_id"] != r["doc_id"]) for r in rows)


def test_r7_keys_not_vacuous(spark):
    """The round-7 keys must exercise their interesting branch on the
    grading fixture, not just emit all-default rows (the r5/r6 vacuity
    lesson applied to every new key)."""
    spans = QUERIES["dedup_substring_spans"](spark, SF).collect()
    assert len(spans) > 0
    n_dup = sum(r["n_dup_spans"] for r in spans)
    assert n_dup > 0, "no duplicated spans at sf0.01 — key vacuous"
    # covered tokens never exceed the doc and fraction is consistent
    assert all(0 <= r["dup_tokens"] <= r["n_tokens"] for r in spans)
    assert all(
        (r["dup_tokens"] > 0) == (r["dup_token_frac"] > 0) for r in spans
    )
    quality = QUERIES["text_quality_classifier"](spark, SF).collect()
    kept = {r["keep"] for r in quality}
    assert kept == {True, False}, f"classifier split vacuous: {kept}"
    inc = QUERIES["stream_dedup_incremental"](spark, SF).collect()
    statuses = {r["ingest_status"] for r in inc}
    assert "near_dup" in statuses and "new" in statuses, (
        f"incremental dedup classes vacuous: {statuses}"
    )
    oov = QUERIES["text_oov_rate"](spark, SF).collect()
    assert len(oov) > 0
    rates = {r["oov_rate"] for r in oov}
    assert min(rates) > 0.0 and max(rates) < 1.0 and len(rates) > 10, (
        "oov_rate degenerate — vocab cut not splitting the corpus"
    )
    applied = QUERIES["dedup_substring_apply"](spark, SF).collect()
    assert sum(r["n_removed"] for r in applied) > 0, "apply removed nothing"
    for r in applied:
        toks = [x for x in r["cleaned_text"].split(" ") if x]
        assert len(toks) == r["n_tokens"] - r["n_removed"]
    # removal is strictly the non-keeper duplicated spans: every doc that
    # removed tokens must also report duplicated spans in the report key
    span_docs = {
        r["doc_id"]
        for r in QUERIES["dedup_substring_spans"](spark, SF).collect()
        if r["n_dup_spans"] > 0
    }
    assert all(
        r["doc_id"] in span_docs for r in applied if r["n_removed"] > 0
    )


def test_set_except_intersect_all_not_vacuous(spark):
    """EXCEPT ALL / INTERSECT ALL must exercise real multiset arithmetic
    (ADVICE r3: the old status/totalprice predicates were one-sided for every
    value, so EXCEPT ALL always returned 0 rows and INTERSECT ALL always
    returned the left multiset unchanged). The parity-split predicates have
    equal selectivity, so per-bucket ordering flips by Binomial noise at any
    fixture scale."""
    from upflow_spark.io import load
    from pyspark.sql import functions as F

    o = load(spark, SF, "orders")
    n_left = o.filter(F.col("o_orderkey") % 2 == 0).count()
    exc = QUERIES["set_except_all"](spark, SF).count()
    # >0 (some buckets have l>r) and < left (some buckets clamp to 0)
    assert 0 < exc < n_left, (exc, n_left)
    inter = QUERIES["set_intersect_all"](spark, SF).count()
    # min(l,r) < l for at least one bucket, and > 0
    assert 0 < inter < n_left, (inter, n_left)
    # Multiset identity: |EXCEPT ALL| + |INTERSECT ALL| == |left|
    assert exc + inter == n_left


def test_knn_classify_ann_matches_numpy_reference(spark):
    """knn_classify_ann vs an INDEPENDENT numpy re-implementation of the
    same IVF routing (integer-lattice label centroids, NPROBE cells per
    query by exact int64 squared distance, 5-NN cosine vote, identical tie
    rules). Exact-match oracle — robust to fixture regeneration, unlike an
    agreement floor vs the exact key (the fixture embeddings are random, so
    label-mean cells are weak quantizers and cross-key agreement is
    legitimately low)."""
    import numpy as np
    import pyarrow.parquet as pq
    from upflow_spark.pipeline.ann_ivf import IVF_OFF, IVF_Q, NPROBE

    t = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    raw = np.vstack(t["embedding"].values).astype(np.float64)
    M = raw / np.linalg.norm(raw, axis=1, keepdims=True)
    lat = np.floor(raw * IVF_Q + 0.5).astype(np.int64) + IVF_OFF
    vec_ids = t["vec_id"].to_numpy()
    labels = t["label"].to_numpy()
    uniq = np.unique(labels)
    cents = np.vstack(
        [lat[labels == l].sum(axis=0) // (labels == l).sum() for l in uniq]
    )
    expect = {}
    for qi in np.where(vec_ids % 50 == 0)[0]:
        d2 = ((cents - lat[qi][None, :]) ** 2).sum(axis=1)
        # rank cells: d2 asc, label asc (np.lexsort is last-key-primary)
        order = np.lexsort((uniq, d2))
        probed = set(uniq[order[:NPROBE]])
        cand = [
            i for i in range(len(M))
            if labels[i] in probed and vec_ids[i] != vec_ids[qi]
        ]
        cos = M[cand] @ M[qi]
        cand_ids = vec_ids[cand]
        top5 = np.lexsort((cand_ids, -cos))[:5]
        votes = {}
        for j in top5:
            votes[labels[cand[j]]] = votes.get(labels[cand[j]], 0) + 1
        pred = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        expect[int(vec_ids[qi])] = (int(labels[qi]), int(pred))
    rows = QUERIES["knn_classify_ann"](spark, SF).collect()
    assert len(rows) == len(expect)
    for r in rows:
        tl, pl = expect[r["query_id"]]
        assert (r["true_label"], r["predicted_label"]) == (tl, pl), r


def test_minhash_banded_recalls_exact_high_jaccard(spark):
    """Pairs with exact token-set Jaccard >= 0.95 should mostly survive
    md5-MinHash banding + the 15/16 agreement verify (ADVICE r3: the old
    docstring claimed a 12/16 cut and a banding-only miss rate; the binding
    cut is n_agree >= 15, and 15 of 16 agreeing positions implies >= 3 whole
    bands agree, so candidacy is free and P[pass] = P[Bin(16, J) >= 15]
    per pair — ~0.81 at J exactly 0.95). The floor is therefore COMPUTED
    from the actual Jaccard distribution of this fixture's exact pairs
    (mean P[pass] minus 4 binomial sigmas), so fixture regeneration moves
    the floor with the data instead of flaking the test."""
    import math

    from upflow_spark.pipeline.minhash_sql import banded_verified_pairs

    exact_rows = QUERIES["dedup_near_minhash"](spark, SF).collect()
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in exact_rows}
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in banded_verified_pairs(spark, SF).collect()
    }
    assert all(a < b for a, b in banded)
    if exact:
        def p_pass(j):
            # P[Bin(16, j) >= 15] — per-position agreement ≈ independent
            return 16 * (j ** 15) * (1 - j) + j ** 16

        ps = [p_pass(j) for j in exact.values()]
        mean_p = sum(ps) / len(ps)
        var = sum(p * (1 - p) for p in ps) / (len(ps) ** 2)
        floor = max(0.0, mean_p - 4 * math.sqrt(var) - 0.02)
        recall = len(set(exact) & banded) / len(exact)
        assert recall >= floor, (
            f"banded recall {recall:.4f} < floor {floor:.4f} "
            f"(mean p_pass {mean_p:.4f}, {len(exact)} exact pairs)"
        )


def test_cms_overestimates_within_bound(spark):
    """CMS guarantee: est >= exact always; est <= exact + ceil(e/w * N)
    w.h.p. (w=512, d=4 — bound loose enough to be deterministic here)."""
    rows = QUERIES["agg_cms_freq"](spark, SF).collect()
    assert rows, "no sampled users"
    from upflow_spark.io import load
    n_stream = load(spark, SF, "events").count()
    bound = 2.718 / 512 * n_stream
    for r in rows:
        assert r["est_n"] >= r["exact_n"], r
        assert r["est_n"] <= r["exact_n"] + bound, (r, bound)


def test_bloom_no_false_negatives(spark):
    """Bloom guarantee: every truly-purchasing sampled user must be a
    member (false positives allowed, false negatives never)."""
    rows = QUERIES["agg_bloom_membership"](spark, SF).collect()
    assert rows
    for r in rows:
        if r["purchased"]:
            assert r["bloom_member"], r


def test_pagerank_mass_conserved(spark, sf_dir):
    """The symmetrized graph has no dangling nodes, so total rank mass is
    exactly 1 after every iteration: sum(pr_scaled/|V|) ≈ 1."""
    from upflow_spark import QUERIES

    rows = QUERIES["graph_pagerank"](spark, sf_dir).collect()
    assert rows
    nv = len(rows)
    mass = sum(r["pr_scaled"] for r in rows) / nv
    assert abs(mass - 1.0) < 1e-3, mass


def test_cdc_diff_all_classes_nonempty(spark, sf_dir):
    from upflow_spark import QUERIES

    rows = {r["change_type"]: r["n_rows"] for r in
            QUERIES["cdc_snapshot_diff"](spark, sf_dir).collect()}
    assert set(rows) == {"insert", "delete", "update", "unchanged"}
    assert all(n > 0 for n in rows.values()), rows


def test_winsorize_clips_are_consistent(spark, sf_dir):
    from upflow_spark import QUERIES

    for r in QUERIES["stat_winsorize"](spark, sf_dir).collect():
        assert r["lo"] <= r["hi"]
        # clipping can only pull the sum toward the interval
        assert r["n_clipped_low"] >= 0 and r["n_clipped_high"] >= 0
        if r["n_clipped_low"] + r["n_clipped_high"] == 0:
            assert abs(r["sum_raw"] - r["sum_winsorized"]) < 1e-6


def test_decoded_image_dims_match_payload(spark, sf_dir):
    """Width is fixed at 16, height tracks doc length (clamped [1, 12])."""
    from upflow_spark import QUERIES

    rows = QUERIES["multimodal_decode_image"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["width"] == 16 and 1 <= r["height"] <= 12
        # channel sums are bounded by 255 per pixel
        for c in ("sum_r", "sum_g", "sum_b"):
            assert 0 < r[c] <= 255 * 16 * r["height"]


def test_multimodal_keys_skip_empty_docs(spark, tmp_path):
    """ADVICE r5: an empty document used to (a) explode sequence(0, -1) into
    two spurious blocks in multimodal_block_dedup and (b) null the PPM
    payload (need/0) and crash the ahash/decode kernels. Both classes must
    now skip empty docs, matching the oracles' range(0,0)=[] / length>0."""
    from upflow_spark import QUERIES

    docs = spark.createDataFrame(
        [(1, "hello world " * 30, 360), (2, "", 0), (3, "abc def " * 40, 320)],
        "doc_id long, text string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    blk = QUERIES["multimodal_block_dedup"](spark, sf).collect()[0]
    # doc1: ceil(360/256)=2 blocks, doc3: ceil(320/256)=2, doc2: ZERO
    assert blk["n_blocks"] == 4, blk
    ah = QUERIES["multimodal_image_ahash"](spark, sf).collect()
    assert sorted(r["doc_id"] for r in ah) == [1, 3]
    dec = QUERIES["multimodal_decode_image"](spark, sf).collect()
    assert sorted(r["doc_id"] for r in dec) == [1, 3]


def test_entity_match_every_probe_matches_self(spark, sf_dir):
    """Every dirty record's origin shares its block and is within lev 1, so
    n_matches >= 1 for all probes and the self key is always a candidate."""
    from upflow_spark import QUERIES

    rows = QUERIES["entity_match_blocked"](spark, sf_dir).collect()
    assert rows
    assert all(r["n_matches"] >= 1 for r in rows)
    assert all(r["best_match_key"] <= r["query_key"] for r in rows)
    # ambiguity exists but must be the minority on 1500+ distinct keys
    ambiguous = sum(1 for r in rows if not r["matched_self"])
    assert ambiguous < len(rows) * 0.5, ambiguous


def test_interval_merge_bounds(spark, sf_dir):
    """Merged coverage per user is bounded below by the longest single
    interval and above by the sum of interval lengths."""
    from pyspark.sql import functions as F

    from upflow_spark import QUERIES
    from upflow_spark.io import load

    got = {r["user_id"]: r for r in
           QUERIES["interval_overlap_merge"](spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events").select(
        "user_id", (F.floor(F.col("value") * 60).cast("long") * 1_000_000).alias("len")
    ).groupBy("user_id").agg(
        F.sum("len").alias("total"), F.max("len").alias("longest"),
        F.count(F.lit(1)).alias("n"),
    )
    for r in ev.collect():
        g = got[r["user_id"]]
        assert g["n_intervals"] == r["n"]
        assert r["longest"] <= g["covered_us"] <= r["total"], (g, r)


def test_cumulative_users_monotone(spark, sf_dir):
    from collections import defaultdict

    from upflow_spark import QUERIES

    rows = QUERIES["win_cumulative_users"](spark, sf_dir).collect()
    series = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
        series[r["event_type"]].append((r["new_users"], r["cumulative_users"]))
    for etype, pts in series.items():
        run = 0
        for new, cum in pts:
            run += new
            assert cum == run, (etype, new, cum, run)


def test_bm25_scores_positive_and_ranked(spark, sf_dir):
    from upflow_spark import QUERIES

    rows = QUERIES["bm25_search"](spark, sf_dir).collect()
    assert len(rows) == 10
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_equi_depth_histogram_properties(spark, sf_dir):
    """Buckets are contiguous, counts within 1 of each other, boundaries
    non-decreasing across tiles."""
    from upflow_spark import QUERIES

    rows = sorted(
        QUERIES["agg_histogram_equi_depth"](spark, sf_dir).collect(),
        key=lambda r: r["tile"],
    )
    assert [r["tile"] for r in rows] == list(range(1, 11))
    counts = [r["n_orders"] for r in rows]
    assert max(counts) - min(counts) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"]


def test_audio_energy_frame_coverage(spark, sf_dir):
    """Per-doc frames tile the payload exactly: sum of n_samples == doc
    length, frame indexes contiguous from 0."""
    from collections import defaultdict

    from upflow_spark import QUERIES
    from upflow_spark.io import load
    from pyspark.sql import functions as F

    rows = QUERIES["multimodal_audio_energy"](spark, sf_dir).collect()
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    lens = {
        r["doc_id"]: r["L"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", F.length("text").alias("L"))
        .collect()
    }
    for doc, frames in by_doc.items():
        frames.sort(key=lambda r: r["frame_idx"])
        assert [f["frame_idx"] for f in frames] == list(range(len(frames)))
        assert sum(f["n_samples"] for f in frames) == lens[doc]


def test_geo_radius_join_is_symmetric_and_bounded(spark, sf_dir):
    from upflow_spark import QUERIES
    from upflow_spark.operators.geo import RADIUS_KM

    rows = QUERIES["geo_radius_join"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["pid_a"] < r["pid_b"]
        assert 0 <= r["dist_km"] <= RADIUS_KM + 1e-9


def test_gram_pca_matches_numpy_reference(spark):
    """emb_gram_pca (rows-only): distributed Gram-matrix PCA must equal a
    local numpy PCA on the same data — same eigenvectors (up to the fixed
    sign convention), same projections, components orthonormal."""
    import numpy as np
    from upflow_spark.io import load

    out = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in QUERIES["emb_gram_pca"](spark, SF).collect()
    }
    rows = load(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    xc = x - x.mean(axis=0)
    cov = xc.T @ xc / (len(x) - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    comps = vecs[:, order].T
    for i in range(2):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    # orthonormal, variance-ordered
    assert np.allclose(comps @ comps.T, np.eye(2), atol=1e-9)
    assert vals[order[0]] >= vals[order[1]]
    ref = xc @ comps.T
    ref = np.floor(ref * 1e4 + 0.5) / 1e4  # same r4 rounding as the key
    got = np.array([out[i] for i in ids])
    assert np.abs(got - ref).max() <= 1e-4, np.abs(got - ref).max()


def test_heavy_hitters_sketch_candidates_superset(spark):
    """Misra-Gries candidate union must contain every exact heavy hitter
    (the guarantee the key's exactness rests on) — verified by comparing
    the graded output against a plain exact computation."""
    from pyspark.sql import functions as F
    from upflow_spark.io import load
    from upflow_spark.pipeline.text import tokens_col

    got = {
        r["term"]: r["n_occurrences"]
        for r in QUERIES["agg_heavy_hitters"](spark, SF).collect()
    }
    tok = load(spark, SF, "documents").select(F.explode(tokens_col()).alias("t"))
    counts = {r["t"]: r["n"] for r in tok.groupBy("t").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    exact = {t: n for t, n in counts.items() if n * 30 >= total}
    assert got == exact


def test_pq_encode_matches_numpy_reference(spark):
    """emb_pq_encode (rows-only): distributed PQ codes + MSE must equal a
    local numpy re-implementation with the same deterministic codebooks."""
    import numpy as np
    from upflow_spark.io import load

    got = {
        r["vec_id"]: (
            tuple(int(c) for c in r["pq_code"].split("-")),
            r["recon_mse"],
        )
        for r in QUERIES["emb_pq_encode"](spark, SF).collect()
    }
    rows = load(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    sample = x[order][:256]
    d = x.shape[1]
    n_sub, k = 8, 16
    sub_d = d // n_sub
    books = []
    for s in range(n_sub):
        xs = sample[:, s * sub_d : (s + 1) * sub_d]
        cents = xs[:k].copy()
        for _ in range(2):
            a = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for c in range(k):
                sel = a == c
                if sel.any():
                    cents[c] = xs[sel].mean(axis=0)
        books.append(cents)
    mses = []
    for i, vid in enumerate(ids):
        codes = []
        recon = np.empty(d)
        for s in range(n_sub):
            xs = x[i, s * sub_d : (s + 1) * sub_d]
            a = int(((xs[None, :] - books[s]) ** 2).sum(axis=1).argmin())
            codes.append(a)
            recon[s * sub_d : (s + 1) * sub_d] = books[s][a]
        mse = float(((x[i] - recon) ** 2).mean())
        mses.append(mse)
        exp_mse = np.floor(mse * 1e4 + 0.5) / 1e4
        assert got[vid] == (tuple(codes), exp_mse), vid
    # compression must actually reconstruct: mean MSE well under the
    # per-dim variance of the raw vectors
    assert np.mean(mses) < x.var(axis=0).mean()


def test_stream_tumbling_leaves_no_scratch(spark, con):
    """Repeated streaming runs must pile up neither dirs nor memory-sink
    tables: the file-stream source dir is named by the fixture's identity
    (the same name in every process), the checkpoint is the
    ``run_to_completion`` scratch dir that each run replaces, and the
    memory sink's temp view is dropped once the result is analyzed. Every
    returned DataFrame still reads the oracle's rows after later runs."""
    import glob
    import os
    import tempfile

    from tests.harness import compare
    from upflow_spark import ORACLE, memo
    from upflow_spark.memo import fixture_dir
    from upflow_spark.streaming.streams import _stream_dir

    def upflow_dirs() -> set:
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "upflow_*")))

    def tree(root: str) -> list:
        return sorted(os.path.relpath(d, root) for d, _, _ in os.walk(root))

    before, n_tables = upflow_dirs(), len(spark.catalog.listTables())
    results, trees = [], []
    for _ in range(3):
        results.append(QUERIES["stream_tumbling"](spark, SF))
        trees.append(tree(memo._ROOT[1]))
        assert len(spark.catalog.listTables()) == n_tables
    want = con.execute(ORACLE["stream_tumbling"]).df()
    for df in results:
        compare(df, want, "stream_tumbling")
    # one checkpoint, replaced in place: the root's tree does not grow
    assert "run_to_completion" in trees[0] and trees[0] == trees[1] == trees[2]
    src = fixture_dir(SF, "events", "upflow_stream_src")
    assert _stream_dir(SF) == src and os.path.isdir(src)
    assert upflow_dirs() - before <= {memo._ROOT[1], src}


def test_update_mode_emits_incremental_updates(spark):
    """stream_update_mode must actually run MULTIPLE micro-batches: the
    update-mode sink accumulates one row per (key, batch-with-change), so
    the emitted row count must exceed the 5-key final state; per-key
    counts must be monotone up to the batch total."""
    import os
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from upflow_spark.io import load
    from upflow_spark.streaming.streams import run_to_completion

    final = {
        r["event_type"]: r["n_events"]
        for r in QUERIES["stream_update_mode"](spark, SF).collect()
    }
    from upflow_spark.memo import fixture_dir

    dst = fixture_dir(SF, "events", "upflow_stream_multi")
    schema = StructType(
        [StructField("event_id", LongType()), StructField("event_type", StringType())]
    )
    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dst)
    counts = raw.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    emitted = run_to_completion(counts, "update").collect()
    assert len(emitted) > len(final), "no incremental updates — single batch?"
    batch = {
        r["event_type"]: r["n"]
        for r in load(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == batch
    for r in emitted:
        assert r["n_events"] <= batch[r["event_type"]]


def test_compression_ratio_sane_and_deterministic(spark):
    """text_compression_ratio (rows-only): ratios in (0, 1.1], identical
    texts get identical ratios, and the templated corpus compresses well
    below 1.0 on average."""
    rows = QUERIES["text_compression_ratio"](spark, SF).collect()
    assert rows
    ratios = {r["doc_id"]: r["compression_ratio"] for r in rows}
    assert all(0 < v <= 1.1 for v in ratios.values())
    assert sum(ratios.values()) / len(ratios) < 0.9
    from upflow_spark.io import load

    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").select("doc_id", "text").collect()
    }
    by_text: dict = {}
    for did, t in texts.items():
        by_text.setdefault(t, []).append(did)
    for ids in by_text.values():
        assert len({ratios[i] for i in ids}) == 1


def test_ann_verified_dedup_recalls_exact(spark):
    """emb_dedup_ann_verified: every verified pair is a true exact pair
    (precision 1.0 by construction — same cosine, same threshold) and the
    verified set recalls most of dedup_embedding_cosine's exact pairs."""
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["dedup_embedding_cosine"](spark, SF).collect()
    }
    summ = QUERIES["emb_dedup_ann_verified"](spark, SF).collect()
    assert len(summ) == 1
    row = summ[0]
    assert row["n_verified"] <= row["n_candidates"]
    if exact:
        # recall floor: verified count within [0.5x, 1.0x] of exact count
        # (subset property makes n_verified <= n_exact; LSH recall ≥ 0.5)
        assert row["n_verified"] <= len(exact)
        assert row["n_verified"] >= 0.5 * len(exact), (row["n_verified"], len(exact))


def test_staged_dedup_consistent_with_exact_assignment(spark):
    """dedup_staged's stage-1 counts must agree with dedup_exact_content's
    per-doc assignment: n_exact_dups == #(is_dup), n_survivors ==
    #(doc_id == keep_doc_id), and the identity n_docs = survivors + dups."""
    staged = QUERIES["dedup_staged"](spark, SF).collect()[0]
    assign = QUERIES["dedup_exact_content"](spark, SF).collect()
    n_dup = sum(1 for r in assign if r["is_dup"])
    assert staged["n_docs"] == len(assign)
    assert staged["n_exact_dups"] == n_dup
    assert staged["n_survivors"] == len(assign) - n_dup
    assert staged["n_verified"] <= staged["n_band_candidates"]


def test_r6_curation_keys_invariants(spark):
    """dedup_url_canonical: every group has >=2 events and the grouped
    totals never exceed the event count; canonical URLs carry no fragment
    or utm params. curation_contamination_score: fractions in [0,1],
    contaminated <= shingles, and one row per corpus doc with >=5 tokens."""
    from upflow_spark.io import load
    from pyspark.sql import functions as F

    n_events = load(spark, SF, "events").count()
    urls = QUERIES["dedup_url_canonical"](spark, SF).collect()
    assert urls and all(r["n_events"] >= 2 for r in urls)
    assert sum(r["n_events"] for r in urls) <= n_events
    assert all("#" not in r["canonical_url"] for r in urls)
    assert all("utm_" not in r["canonical_url"] for r in urls)

    scores = QUERIES["curation_contamination_score"](spark, SF).collect()
    assert scores
    for r in scores:
        assert 0 <= r["n_contaminated"] <= r["n_shingles"]
        assert 0.0 <= r["contamination_frac"] <= 1.0
    expected = (
        load(spark, SF, "documents")
        .where(
            (F.col("doc_id") % 97 != 0)
            & (F.size(F.filter(F.split("text", " "), lambda t: t != "")) >= 5)
        )
        .count()
    )
    assert len(scores) == expected


def test_r8b_keys_not_vacuous(spark):
    """Second round-8 wave: every new key must exercise its interesting
    branch on the grading fixture (the r5/r6 vacuity lesson)."""
    rrf = QUERIES["search_rrf_hybrid"](spark, SF).collect()
    assert len(rrf) == 10
    vals = [r["rrf"] for r in rrf]
    assert vals == sorted(vals, reverse=True) and min(vals) > 0
    # a single-arm doc can score at most 1/61; anything above proves the
    # fusion actually merged both ranked lists
    assert max(vals) > 1.0 / 61, "no doc ranked in BOTH arms — fusion vacuous"

    sc = QUERIES["dedup_semantic_cc"](spark, SF).collect()
    assert len(sc) > 0 and all(r["cluster_id"] <= r["vec_id"] for r in sc)
    assert any(not r["keep"] for r in sc), "no semantic dup dropped"
    by_cluster = {}
    for r in sc:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert sum(1 for m in members if m["keep"]) == 1, f"cluster {cid}"
        assert all(m["cluster_size"] == len(members) for m in members)

    lb = QUERIES["curation_lang_balance"](spark, SF).collect()
    from upflow_spark.io import load as _load
    from pyspark.sql import functions as _F

    per_lang = {
        r["lang"]: r["n"]
        for r in _load(spark, SF, "documents").groupBy("lang").agg(_F.count(_F.lit(1)).alias("n")).collect()
    }
    kept = {}
    for r in lb:
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
        assert r["rk"] <= r["target_docs"]
    assert set(kept) == set(per_lang), "every language must survive"
    assert any(kept[lg] < per_lang[lg] for lg in kept), "head not downsampled"
    assert all(kept[lg] <= per_lang[lg] for lg in kept)

    pre = QUERIES["tokenize_bpe_pretok"](spark, SF).collect()
    # reconstruction invariant: pretokens partition the text exactly, so
    # per-lang Σ len(pretoken) == Σ len(text)
    text_chars = {
        r["lang"]: r["n"]
        for r in _load(spark, SF, "documents")
        .groupBy("lang")
        .agg(_F.sum(_F.length("text")).alias("n"))
        .collect()
    }
    for r in pre:
        approx_chars = r["avg_pretok_len"] * r["n_pretokens"]
        assert abs(approx_chars - text_chars[r["lang"]]) <= 0.0001 * r["n_pretokens"]
        assert r["n_vocab"] > 0 and 0 < r["alpha_share"] <= 1

    w = QUERIES["stat_welch_ttest"](spark, SF).collect()[0]
    assert w["n_urgent"] > 0 and w["n_low"] > 0
    assert min(w["n_urgent"], w["n_low"]) - 1 <= w["df_welch"] <= w["n_urgent"] + w["n_low"] - 2

    cs = QUERIES["ts_cusum_changepoint"](spark, SF).collect()
    assert len(cs) == 3 and all(r["cusum_dev"] != 0 for r in cs)

    dow = QUERIES["ts_seasonal_dow_profile"](spark, SF).collect()
    assert len(dow) == 5
    for r in dow:
        assert abs(r["residual"] - (r["revenue"] - r["dow_mean"])) < 3e-4

    man = QUERIES["scan_manifest_pruned"](spark, SF).collect()[0]
    assert man["n_buckets_total"] == 8
    assert 1 <= man["n_buckets_scanned"] < man["n_buckets_total"], "nothing pruned"
    assert man["n_rows"] > 0 and man["min_orderkey"] >= 0

    mrl = {r["k"]: r for r in QUERIES["emb_matryoshka_agreement"](spark, SF).collect()}
    assert set(mrl) == {8, 16, 32, 64}
    assert mrl[64]["agree_rate"] == 1.0 and mrl[64]["n_agree"] == mrl[64]["n_probes"]
    assert all(mrl[k]["agree_rate"] < 1.0 for k in (8, 16, 32)), "prefix=full?"
    # low-dim prefixes inflate cosine: mean top-1 cos must fall as k grows
    cosines = [mrl[k]["mean_top1_cos"] for k in (8, 16, 32, 64)]
    assert cosines == sorted(cosines, reverse=True)

    knn = QUERIES["geo_knn_join"](spark, SF).collect()
    by_q = {}
    for r in knn:
        by_q.setdefault(r["qid"], []).append(r)
    assert len(by_q) == 20 and all(len(v) == 3 for v in by_q.values())
    for v in by_q.values():
        v.sort(key=lambda r: r["rk"])
        dists = [r["dist_km"] for r in v]
        assert dists == sorted(dists) and dists[0] > 0

    pb = QUERIES["curation_perplexity_buckets"](spark, SF).collect()
    langs = {r["lang"] for r in pb}
    for lg in langs:
        rows = sorted([r for r in pb if r["lang"] == lg], key=lambda r: r["bucket"])
        assert [r["bucket"] for r in rows] == [1, 2, 3]
        means = [r["mean_surprisal"] for r in rows]
        assert means == sorted(means), f"{lg}: terciles not ordered by surprisal"
        assert [r["is_kept"] for r in rows] == [True, True, False]

    lpa = QUERIES["graph_label_propagation"](spark, SF).collect()
    comms = {}
    for r in lpa:
        comms.setdefault(r["community"], 0)
        comms[r["community"]] += 1
    assert 1 < len(comms) < len(lpa)
    for r in lpa:
        assert r["community_size"] == comms[r["community"]]


def test_r8c_keys_not_vacuous(spark):
    """Third round-8 wave: attribution, rolling actives, embedding outliers."""
    att = QUERIES["events_attribution_last_touch"](spark, SF).collect()
    channels = {r["channel"] for r in att}
    assert "organic" in channels and ({"click", "view"} & channels), channels
    assert all(r["n_conversions"] > 0 and r["revenue"] > 0 for r in att)

    dwm = QUERIES["events_dau_wau_mau"](spark, SF).collect()
    assert len(dwm) == 30  # the fixture's event span
    for r in dwm:
        assert 0 < r["dau"] <= r["wau"] <= r["mau"]
        assert abs(r["stickiness"] - round(r["dau"] / r["mau"], 4)) < 2e-4
    # windows must actually accumulate: late days see more than one day
    assert max(r["mau"] for r in dwm) > max(r["dau"] for r in dwm)

    out = QUERIES["emb_outlier_mahalanobis"](spark, SF).collect()
    assert len(out) == 20
    scores = [r["maha_sq"] for r in out]
    assert scores == sorted(scores, reverse=True) and min(scores) > 0
    # E[maha²] = d for standardized dims — the top-20 must sit above 64
    assert min(scores) > 64


def test_r8d_keys_not_vacuous(spark):
    """Fourth round-8 wave: BFS depth, Spearman, cohort LTV."""
    bfs = QUERIES["graph_bfs_depth"](spark, SF).collect()
    depths = {r["depth"] for r in bfs}
    assert 0 in depths and max(depths) >= 1, depths
    assert sum(1 for r in bfs if r["depth"] == 0) == 5  # the seeds
    assert all(0 <= r["depth"] <= 4 for r in bfs)

    sp = QUERIES["stat_spearman_rho"](spark, SF).collect()[0]
    assert sp["n"] > 0 and -1.0 <= sp["spearman_rho"] <= 1.0
    assert sp["spearman_rho"] != 0.0  # fixture series is not perfectly flat

    ltv = QUERIES["events_cohort_ltv"](spark, SF).collect()
    assert len(ltv) > 0
    by_cohort = {}
    for r in ltv:
        by_cohort.setdefault(r["cohort_week"], []).append(r)
    for rows in by_cohort.values():
        rows.sort(key=lambda r: r["age_week"])
        vals = [r["cum_ltv_per_user"] for r in rows]
        assert vals == sorted(vals), "cumulative LTV must be nondecreasing"
        assert all(r["n_users"] > 0 for r in rows)


def test_r8e_keys_not_vacuous(spark):
    """Fifth round-8 wave: rolling median fan-out, semantic funnel,
    file-metadata stats."""
    med = QUERIES["ts_rolling_median_fanout"](spark, SF).collect()
    assert len(med) > 30
    med.sort(key=lambda r: r["day"])
    # warm-up: day i sees at most i+1 contributing days, capped at 7
    assert med[0]["n_in_window"] == 1
    assert max(r["n_in_window"] for r in med) == 7
    assert all(1 <= r["n_in_window"] <= 7 for r in med)
    assert all(r["rolling_median"] > 0 for r in med)

    fun = {r["stage"]: r for r in QUERIES["pipeline_semantic_funnel"](spark, SF).collect()}
    assert set(fun) == {"raw", "outlier_pruned", "semantic_dedup", "train_split"}
    ns = [fun[s]["n_vecs"] for s in ("raw", "outlier_pruned", "semantic_dedup", "train_split")]
    assert ns[0] > 0 and ns == sorted(ns, reverse=True)
    # the 5% outlier cut must actually drop ~5%
    assert ns[1] == ns[0] - int(ns[0] * 0.05)
    # every stage must prune something and keep something
    assert ns[3] > 0 and ns[2] < ns[1] and ns[3] < ns[2]

    meta = QUERIES["scan_file_metadata"](spark, SF).collect()
    assert len(meta) == 1
    m = meta[0]
    assert m["file_name"] == "lineitem.parquet"
    assert m["n_rows"] > 0 and 0 <= m["min_key"] <= m["max_key"]


def test_r8f_keys_not_vacuous(spark):
    """Sixth round-8 wave: robust trend, bootstrap CI, Hampel filter."""
    ts = QUERIES["stat_theil_sen"](spark, SF).collect()[0]
    assert ts["n_days"] > 1000
    assert ts["n_pairs"] == ts["n_days"] * (ts["n_days"] - 1) // 2
    assert abs(ts["theil_sen_slope"]) < 1e6  # sane slope scale

    ci = QUERIES["stat_bootstrap_ci"](spark, SF).collect()[0]
    assert ci["n_replicates"] == 100
    assert ci["ci_lo"] < ci["boot_median"] < ci["ci_hi"]
    # half-sample replicate means must bracket the full-sample mean
    assert ci["ci_lo"] < ci["mean_full"] < ci["ci_hi"]
    # and the band must be tight relative to the mean (n is large)
    assert (ci["ci_hi"] - ci["ci_lo"]) < 0.1 * ci["mean_full"]

    hp = QUERIES["ts_hampel_outliers"](spark, SF).collect()
    assert 0 < len(hp) < 500  # flags something, but not the whole series
    for r in hp:
        assert abs(r["rev"] - r["med"]) > 4.4 * r["mad"] * 0.999
        assert r["mad"] >= 0


def test_r8g_keys_not_vacuous(spark):
    """Seventh round-8 wave: DSIR, blocklist filter, source drift."""
    ds = QUERIES["curation_dsir_weights"](spark, SF).collect()
    assert len(ds) == 500
    kept = [r for r in ds if r["kept"]]
    assert len(kept) == 200  # floor(500 * 0.4)
    # the target-distribution proxy must actually be upweighted: the kept
    # set must be enriched in `en` relative to the corpus
    en_all = sum(1 for r in ds if r["lang"] == "en") / len(ds)
    en_kept = sum(1 for r in kept if r["lang"] == "en") / len(kept)
    assert en_kept > en_all
    min_kept = min(r["dsir_logratio"] for r in kept)
    assert all(r["dsir_logratio"] <= min_kept or r["kept"] is False or True for r in ds)
    assert max(r["dsir_logratio"] for r in ds if not r["kept"]) <= min_kept + 1e-9

    bl = QUERIES["curation_blocklist_filter"](spark, SF).collect()
    assert len(bl) == 500
    n_hard = sum(1 for r in bl if r["hard_hit"])
    n_kept = sum(1 for r in bl if r["kept"])
    assert 0 < n_hard < 100  # `dup` is a rare marker
    assert 0 < n_kept < 500  # both rules fire somewhere
    for r in bl:
        if r["hard_hit"]:
            assert not r["kept"]
        assert (r["n_soft"] == 0) == (r["soft_ratio"] == 0.0)

    dr = QUERIES["emb_source_drift"](spark, SF).collect()
    assert len(dr) == 20
    assert sum(r["n_vecs"] for r in dr) == 500
    for r in dr:
        assert -1.0 <= r["cos_to_global"] <= 1.0001
        assert r["l2_to_global"] >= 0
    # fixture embeddings are near-isotropic: per-source centroids are
    # noise-scale (≈ σ/√n per dim), so L2 drift must be small but nonzero —
    # a real drifted source would sit far above this band
    assert all(0.05 < r["l2_to_global"] < 0.5 for r in dr)


def test_r8h_keys_not_vacuous(spark):
    """Eighth round-8 wave: two-proportion z-test, STL-lite decomposition."""
    zt = QUERIES["stat_proportions_ztest"](spark, SF).collect()[0]
    assert zt["n_high_disc"] > 0 and zt["n_low_disc"] > 0
    assert 0 < zt["rate_high"] < 1 and 0 < zt["rate_low"] < 1
    # z must carry the sign of the rate difference
    assert (zt["z_score"] > 0) == (zt["rate_high"] > zt["rate_low"])

    stl = QUERIES["ts_stl_decompose"](spark, SF).collect()
    assert len(stl) > 1000
    for r in stl[:50] + stl[-50:]:
        assert abs(r["rev"] - (r["trend"] + r["seasonal"] + r["residual"])) < 5e-4
    # seasonal takes exactly 7 values (one per DOW), summing ~0 weighted
    seas = {r["seasonal"] for r in stl}
    assert len(seas) == 7
    # trend must smooth: its variance is below the raw series' variance
    import statistics
    assert statistics.pvariance([r["trend"] for r in stl]) < statistics.pvariance(
        [r["rev"] for r in stl]
    )


def test_r8i_keys_not_vacuous(spark):
    """Ninth round-8 wave: one-way ANOVA, k-core peeling, Z-order layout."""
    av = QUERIES["stat_anova_f"](spark, SF).collect()[0]
    assert av["k_groups"] == 5 and av["n_total"] > 1000
    assert av["df_between"] == 4 and av["df_within"] == av["n_total"] - 5
    assert av["f_stat"] > 0 and 0 <= av["eta_sq"] < 1

    kc = QUERIES["graph_k_core"](spark, SF).collect()
    from upflow_spark.pipeline.cluster import KCORE_K

    assert len(kc) > 0
    assert all(r["doc_id"] != -1 for r in kc), "k-core peeling unconverged"
    assert all(r["core_degree"] >= KCORE_K for r in kc)
    # peeling must actually remove something: the core is a strict subset
    # of the pair-graph node set
    pairs = QUERIES["dedup_simhash_pairs"](spark, SF).collect()
    nodes = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert 0 < len(kc) < len(nodes), "peeling removed nothing (vacuous)"
    assert {r["doc_id"] for r in kc} <= nodes

    zo = QUERIES["scan_zorder_cluster"](spark, SF).collect()[0]
    assert zo["n_files_total"] == 8
    # the 2-D corner box must prune most z-range files — that IS the key
    assert zo["n_files_scanned"] < zo["n_files_total"] / 2
    assert zo["n_rows"] > 0 and zo["revenue"] > 0
    # pruned+filtered result must equal the plain full-scan filter
    from upflow_spark.io import load as _load
    from pyspark.sql import functions as _F

    li = _load(spark, SF, "lineitem")
    mxp, mxs = li.agg(_F.max("l_partkey"), _F.max("l_suppkey")).collect()[0]
    exact = li.filter(
        (_F.col("l_partkey") <= mxp // 4) & (_F.col("l_suppkey") <= mxs // 4)
    ).count()
    assert zo["n_rows"] == exact


def test_semantic_funnel_ann_path_invariants(spark):
    """pipeline_semantic_funnel_ann (production pair path) vs the exact
    oracle key: stages 1-2 identical (they don't touch pairs); ANN edges
    are a SUBSET of exact edges, so ANN components refine exact components
    and every ANN CC loser is an exact loser — stage-3 survivors must be a
    superset of the exact key's; recall floor: ANN removes at least half
    of the losers the exact CC removes."""
    exact = {
        r["stage_no"]: r["n_vecs"]
        for r in QUERIES["pipeline_semantic_funnel"](spark, SF).collect()
    }
    ann = {
        r["stage_no"]: r["n_vecs"]
        for r in QUERIES["pipeline_semantic_funnel_ann"](spark, SF).collect()
    }
    assert ann[1] == exact[1] and ann[2] == exact[2]
    assert exact[3] <= ann[3] <= ann[2]
    dropped_exact = exact[2] - exact[3]
    dropped_ann = ann[2] - ann[3]
    assert dropped_ann <= dropped_exact
    if dropped_exact:
        assert dropped_ann >= 0.5 * dropped_exact, (dropped_ann, dropped_exact)
    assert ann[4] <= ann[3]


def test_doc_bitmasks_never_collects_vocab(spark, monkeypatch):
    """r9 guard: the bitmask mask build assigns dense term ids via the
    distributed zipWithIndex relation — the vocabulary must never converge
    on the driver. DataFrame.collect is patched to raise for the whole
    build + consumption."""
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    from upflow_spark.pipeline.dedup import _doc_bitmasks

    items = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "b"), (2, "c"), (3, "a")],
        "doc_id long, item string",
    )

    def boom(self, *a, **k):
        raise AssertionError("driver collect inside the bitmask mask path")

    monkeypatch.setattr(_DF, "collect", boom)
    masks, n_words = _doc_bitmasks(spark, items)
    assert n_words == 1
    assert masks.count() == 3
    # every doc's popcount must equal its item count
    ok = masks.filter(
        F.expr("bit_count(m0)") == F.col("n_items")
    ).count()
    assert ok == 3


def _ref_bpe(pt: str, merges) -> list[str]:
    """Reference BPE apply: lowest-rank pair present, merged left-to-right
    non-overlapping, until no table pair remains."""
    rank = {pair: i for i, pair in enumerate(merges)}
    seq = list(pt)
    while True:
        pairs = [(rank.get((seq[i], seq[i + 1])), i) for i in range(len(seq) - 1)]
        present = [r for r, _ in pairs if r is not None]
        if not present:
            return seq
        best = min(present)
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and rank.get((seq[i], seq[i + 1])) == best:
                out.append(seq[i] + seq[i + 1])
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out


# pretokens that stress the encoder's edge cases: overlapping runs of one
# pair (eee, rrrr), a pair merged twice into a chain (erer with er+er in
# the table), single characters and non-ASCII text
_BPE_EDGE_PTS = [
    "eee", "rrrr", "erer", "ererer", "ssst", " stst", "thethe",
    "e", " ", "x", "über", " café", "日本語", "naïve",
]


def _bpe_case(spark, case: str):
    """(merges, {pt: [(pos, sym)]}) of one encoder input set."""
    from pyspark.sql import functions as F

    from upflow_spark.io import load
    from upflow_spark.pipeline.bpe import (
        BPE_PRETOK_RE,
        MERGES,
        _bpe_final_state,
        _encode,
    )

    if case == "fixed":
        merges, state = MERGES, _bpe_final_state(spark, SF)
    elif case == "learned":
        merges = [
            (r["lft"], r["rgt"])
            for r in QUERIES["tokenize_bpe_train"](spark, SF)
            .orderBy("merge_rank")
            .collect()
        ]
        pts = load(spark, SF, "documents").select(
            F.explode(F.regexp_extract_all("text", F.lit(BPE_PRETOK_RE), 0)).alias("pt")
        ).distinct()
        state = _encode(pts, merges)
    else:
        merges = [("e", "e"), ("r", "r"), ("er", "er")] + MERGES
        pts = spark.createDataFrame([(p,) for p in _BPE_EDGE_PTS], "pt string")
        state = _encode(pts, merges)
    got: dict = {}
    for r in state.collect():
        got.setdefault(r["pt"], []).append((r["pos"], r["sym"]))
    return merges, {pt: sorted(v) for pt, v in got.items()}


@pytest.mark.parametrize("case", ["fixed", "learned", "edge"])
def test_bpe_apply_matches_reference(spark, case):
    """The encoder must reproduce a plain-Python BPE for every pretoken —
    the corpus vocabulary under the fixed and the learned table, and an
    adversarial pretoken list — with each symbol at the start position
    of its characters; and the merges must actually FIRE (multi-char
    tokens, second-order merges included)."""
    merges, got = _bpe_case(spark, case)
    if case == "edge":
        assert set(got) == set(_BPE_EDGE_PTS)
    assert got, "no pretokens"
    fired = 0
    second_order = 0
    for pt, syms in got.items():
        ref = _ref_bpe(pt, merges)
        starts = [sum(map(len, ref[:i])) + 1 for i in range(len(ref))]
        assert list(zip(starts, ref)) == syms, (pt, ref, syms)
        if len(ref) < len(pt):
            fired += 1
        if any(len(s) >= 3 for s in ref):
            second_order += 1
    assert fired >= len(got) // 2, "merges barely fire — table mismatch with corpus"
    assert second_order >= 1, "no second-order merge ever applied"
    if case == "edge":
        assert got["erer"] == [(1, "erer")] and got["rrrr"] == [(1, "rr"), (3, "rr")]


def _ref_bpe_train(pretok_counts: dict, rounds: int):
    """Reference BPE trainer: per round, count every adjacency weighted by
    pretoken corpus frequency, take the (count DESC, lft ASC, rgt ASC)
    argmax, merge it left-to-right non-overlapping everywhere."""
    state = {pt: (list(pt), w) for pt, w in pretok_counts.items()}
    merges = []
    for k in range(rounds):
        counts: dict = {}
        for seq, w in state.values():
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                counts[p] = counts.get(p, 0) + w
        if not counts:
            break
        (lft, rgt), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((k, lft, rgt, cnt))
        for pt, (seq, w) in state.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == lft and seq[i + 1] == rgt:
                    out.append(seq[i] + seq[i + 1])
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            state[pt] = (out, w)
    return merges


def test_bpe_train_matches_reference(spark):
    """The distributed trainer must learn the exact merge table a plain
    sequential BPE trainer learns from the same corpus, and the learned
    pair counts must be non-increasing in rank (a theorem: old pair counts
    only shrink, and a new pair over the merged symbol is bounded by the
    merged pair's count at its own argmax round)."""
    import re

    from pyspark.sql import functions as F

    from upflow_spark.io import load
    from upflow_spark.pipeline.bpe import N_TRAIN
    from upflow_spark.pipeline.textstats import BPE_PRETOK_RE

    pretok_counts: dict = {}
    for r in load(spark, SF, "documents").select("text").collect():
        for pt in re.findall(BPE_PRETOK_RE, r["text"]):
            pretok_counts[pt] = pretok_counts.get(pt, 0) + 1
    want = _ref_bpe_train(pretok_counts, N_TRAIN)

    got = [
        (r["merge_rank"], r["lft"], r["rgt"], r["pair_count"])
        for r in QUERIES["tokenize_bpe_train"](spark, SF)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == want
    assert len(got) == N_TRAIN  # fixtures never exhaust pairs early
    cnts = [c for _, _, _, c in got]
    assert all(a >= b for a, b in zip(cnts, cnts[1:])), "counts increased"
    # second-order dynamics actually exercised: some learned merge consumes
    # an earlier merge's output symbol
    syms = {l + r for _, l, r, _ in got}
    assert any(l in syms or r in syms for _, l, r, _ in got)
