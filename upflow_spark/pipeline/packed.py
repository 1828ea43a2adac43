"""The packed B operand of the exact-pair kernels, behind one gate.

Every exact-pair kernel scores an A side against a packed B operand: the
bit-packed term-set GEMMs (dedup_ngram_jaccard, dedup_containment,
text_knn_jaccard_docs), the float64 cosine GEMM (dedup_embedding_cosine)
and the ANN candidate verifies (sim_ann_lsh, emb_dedup_ann_verified) — the
candidate-prune-verify design. The operand has one format. Workers pack
each partition of an (id, val) relation into block rows ``(ids, mat)``:
``ids`` the int64 ids, ``mat`` one fixed-width byte row per id, bit-packed
for term-id sets ("bits": val is an array<long> of ids below ``width``)
and float64 for vectors ("f64": val is a numeric array of ``width``).
The driver only ever assembles block bytes, never rows.

:func:`pack` is the one gate on ``ceilings.BROADCAST_MAX_BYTES``: after a
count it broadcasts the concatenated blocks (sorted by id), or past the
ceiling returns the checkpointed block relation. :func:`pair_cells`
applies a consumer's one cell function against the broadcast or over the
block-row cross join; :func:`gather_pairs` applies one verify function to
candidate pairs, gathering their vectors from the broadcast or by two
equi-joins. Each consumer writes its math once, so path selection is a
memory decision, never a semantics decision, by construction.
"""

from __future__ import annotations

import sys
from typing import NamedTuple

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark import ceilings

# The kernels below ship to Python workers by value: a pickled reference
# to this module would make every worker process import upflow_spark,
# whose registry load costs ~1 s before the first batch is scored.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

BLOCKS = "ids binary, mat binary"
NOT_CLOSED = (
    "candidate vec_id absent from the packed operand - "
    "candidate source is not id-closed over the pack"
)


class Packed(NamedTuple):
    """A packed B operand: exactly one of ``bc`` and ``blocks`` is set."""

    fmt: str  # "bits" or "f64"
    width: int  # vocabulary size or vector dimension
    bc: object  # Broadcast of (sorted ids, uint8 byte rows), under the ceiling
    blocks: DataFrame | None  # checkpointed (ids, mat) block rows, past it


def _row_bytes(fmt: str, width: int) -> int:
    return (width + 7) // 8 if fmt == "bits" else width * 8


def _matrix(fmt: str, width: int, vals):
    """The dense (n × width) matrix of a pandas column of vals: 0/1
    float32 (exact small-integer GEMMs) for bits, float64 for vectors."""
    import numpy as np

    if fmt == "f64":
        return np.stack(vals.to_numpy()).astype(np.float64)
    m = np.zeros((len(vals), width), dtype=np.float32)
    for i, ids in enumerate(vals):
        if ids is not None and len(ids):
            m[i, np.asarray(ids, dtype=np.int64)] = 1.0
    return m


def _encode(fmt: str, width: int, vals):
    """vals -> (n × _row_bytes) uint8 rows."""
    import numpy as np

    m = _matrix(fmt, width, vals)
    return np.packbits(m != 0, axis=1) if fmt == "bits" else m.view(np.uint8)


def _decode(fmt: str, width: int, raw):
    """Inverse of _encode: uint8 rows -> the _matrix of the same vals."""
    import numpy as np

    if fmt == "f64":
        return raw.view(np.float64)
    return np.unpackbits(raw, axis=1, count=width).astype(np.float32)


def _unpack(fmt: str, width: int, ids_bin: bytes, mat_bin: bytes):
    """One block row -> (ids, matrix)."""
    import numpy as np

    ids = np.frombuffer(ids_bin, dtype=np.int64)
    raw = np.frombuffer(mat_bin, dtype=np.uint8).reshape(
        len(ids), _row_bytes(fmt, width)
    )
    return ids, _decode(fmt, width, raw)


def _pack_blocks(rows: DataFrame, fmt: str, width: int) -> DataFrame:
    """One (ids, mat) block row per Arrow batch of an (id, val) relation:
    a few-MB binary cell instead of one row per id."""
    import numpy as np
    import pandas as pd

    def enc(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {
                        "ids": [pdf["id"].to_numpy(np.int64).tobytes()],
                        "mat": [_encode(fmt, width, pdf["val"]).tobytes()],
                    }
                )

    return rows.toDF("id", "val").mapInPandas(enc, BLOCKS)


def pack(
    spark: SparkSession, rows: DataFrame, fmt: str, width: int | None = None
) -> Packed:
    """Pack an (id, val) relation into the B operand — the one reader of
    ceilings.BROADCAST_MAX_BYTES.

    ``rows`` is read twice (count, pack), so a caller checkpoints it
    unless its lineage is a cheap scan. ``width`` is the vocabulary size
    for "bits"; for "f64" it defaults to the widest vector, read by an
    aggregate so a null first row or a ragged corpus cannot understate it. The gate prices the
    packed bytes BEFORE any byte heads driver-ward. Under it the workers'
    blocks are collected, concatenated and sorted by id (the ANN gather
    looks ids up by searchsorted); the driver holds ~3x the gated bytes at
    peak (collected blocks, the joined copy, the sorted copy while the
    first is freed, then its serialized broadcast). Past it the block
    relation is checkpointed and the matrix never converges anywhere.
    """
    import numpy as np

    rows = rows.toDF("id", "val")
    if width is None:  # one aggregate reads the count and the widest vector
        n, width = rows.agg(F.count(F.lit(1)), F.max(F.size("val"))).head()
        width = width or 0
    else:
        n = rows.count()
    row_bytes = _row_bytes(fmt, width)
    blocks = _pack_blocks(rows, fmt, width)
    if n * row_bytes > ceilings.BROADCAST_MAX_BYTES:
        return Packed(fmt, width, None, blocks.localCheckpoint())
    got = blocks.collect()
    ids = np.frombuffer(b"".join(r["ids"] for r in got), dtype=np.int64)
    raw = np.frombuffer(b"".join(r["mat"] for r in got), dtype=np.uint8)
    del got
    order = np.argsort(ids, kind="stable")
    raw = raw.reshape(len(ids), row_bytes)[order]
    return Packed(fmt, width, spark.sparkContext.broadcast((ids[order], raw)), None)


def pair_cells(op: Packed, a_rows: DataFrame, cell, schema: str) -> DataFrame:
    """Score every row of the (id, val) relation ``a_rows`` against all of
    B with ``cell(a_ids, A, b_ids, B)``, a generator of frames of
    ``schema``. Under the ceiling each A batch meets the broadcast B; past
    it A is packed into block rows and the cell runs once per (A block,
    B block) pair of the cross join over block ROWS (a few MB each, never
    doc rows) — replication A × n_b_blocks, the unavoidable cost of a
    similarity matmul whose operand exceeds one process's memory. A
    consumer whose cell reduces over B (a top-k) merges the per-block
    results itself when ``op.bc`` is None."""
    import numpy as np

    fmt, width, bc = op.fmt, op.width, op.bc
    a_rows = a_rows.toDF("id", "val")
    if bc is not None:

        def kernel(batches):
            b_ids, raw = bc.value
            b_mat = _decode(fmt, width, raw)
            for pdf in batches:
                if len(pdf):
                    a_ids = pdf["id"].to_numpy(np.int64)
                    a_mat = _matrix(fmt, width, pdf["val"])
                    yield from cell(a_ids, a_mat, b_ids, b_mat)

        return a_rows.mapInPandas(kernel, schema)

    grid = _pack_blocks(a_rows, fmt, width).crossJoin(op.blocks.toDF("b_ids", "b_mat"))

    def grid_kernel(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                yield from cell(
                    *_unpack(fmt, width, r.ids, r.mat),
                    *_unpack(fmt, width, r.b_ids, r.b_mat),
                )

    return grid.mapInPandas(grid_kernel, schema)


def gather_pair_vectors(cand: DataFrame, e: DataFrame, emb_col: str = "emb") -> DataFrame:
    """Distributed gather for candidate pairs: attach both endpoint vectors
    to each (vec_a, vec_b) row via two equi-joins against the (vec_id, emb)
    relation — the scale path when the packed matrix exceeds
    ceilings.BROADCAST_MAX_BYTES. LEFT joins so an id absent from the relation
    surfaces as a NULL the kernel can turn into the id-closure error the
    broadcast path raises (an inner join would silently drop the pair)."""
    return cand.join(
        e.select(F.col("vec_id").alias("vec_a"), F.col(emb_col).alias("emb_a")),
        "vec_a",
        "left",
    ).join(
        e.select(F.col("vec_id").alias("vec_b"), F.col(emb_col).alias("emb_b")),
        "vec_b",
        "left",
    )


def _block_vectors(blocks: DataFrame, width: int) -> DataFrame:
    """f64 block rows -> (vec_id, emb) rows, for the gather joins."""
    import pandas as pd

    def rows(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ids, m = _unpack("f64", width, r.ids, r.mat)
                yield pd.DataFrame({"vec_id": ids, "emb": list(m)})

    return blocks.mapInPandas(rows, "vec_id long, emb array<double>")


def gather_pairs(op: Packed, cand: DataFrame, verify, schema: str) -> DataFrame:
    """Apply ``verify(pdf, take)`` to every batch of (vec_a, vec_b)
    candidate pairs against an f64 operand. ``take(sel=slice(None),
    dtype=np.float64)`` returns the endpoint vectors (A, B) of the
    selected pairs. Under the ceiling they are looked up in the broadcast
    by searchsorted (one cast copy of the matrix per task and dtype); past
    it gather_pair_vectors joins them onto the candidates. Either way a
    candidate id absent from the pack raises ValueError(NOT_CLOSED) —
    otherwise it would silently score the wrong row or drop the pair."""
    import numpy as np

    width, bc = op.width, op.bc
    if bc is not None:

        def kernel(batches):
            ids, raw = bc.value
            mats: dict = {}

            def mat(dtype):
                key = np.dtype(dtype)
                if key not in mats:
                    mats[key] = _decode("f64", width, raw).astype(key, copy=False)
                return mats[key]

            for pdf in batches:
                if not len(pdf):
                    continue
                want_a = pdf["vec_a"].to_numpy(np.int64)
                want_b = pdf["vec_b"].to_numpy(np.int64)
                # empty pack: clip(max=-1) would gather index -1
                if len(ids) == 0:
                    raise ValueError(NOT_CLOSED)
                a = np.searchsorted(ids, want_a).clip(max=len(ids) - 1)
                b = np.searchsorted(ids, want_b).clip(max=len(ids) - 1)
                if not (
                    np.array_equal(ids[a], want_a) and np.array_equal(ids[b], want_b)
                ):
                    raise ValueError(NOT_CLOSED)

                def take(sel=slice(None), dtype=np.float64, a=a, b=b):
                    m = mat(dtype)
                    return m[a[sel]], m[b[sel]]

                yield verify(pdf, take)

        return cand.mapInPandas(kernel, schema)

    def gather_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf["emb_a"].isna().any() or pdf["emb_b"].isna().any():
                raise ValueError(NOT_CLOSED)
            A = np.stack(pdf["emb_a"].to_numpy())
            B = np.stack(pdf["emb_b"].to_numpy())

            def take(sel=slice(None), dtype=np.float64, A=A, B=B):
                return A[sel].astype(dtype, copy=False), B[sel].astype(dtype, copy=False)

            yield verify(pdf, take)

    vectors = _block_vectors(op.blocks, width)
    return gather_pair_vectors(cand, vectors).mapInPandas(gather_kernel, schema)
