"""Every local-kernel / broadcast vs distributed size ceiling, in one place.

Each ceiling picks between two paths that give identical output: under it,
the data runs as one bounded local task or rides a broadcast; past it, the
distributed path runs — the 100 TB shape. Path selection is a memory
decision, never a semantics decision, and tests force each distributed
path to prove it.

The values were sized on a 128 GiB, 32-core host running ``local[32]``
with one Python worker per task and a 24g driver heap. A deployment with
smaller per-worker budgets (many workers per host under
``spark.executor.pyspark.memory``) lowers them; the fallback path is the
contract, the ceiling is a tunable.

Gates read these as module attributes at call time (``ceilings.X``), so a
test that sets one here forces that fallback everywhere. Never bind a
ceiling with ``from upflow_spark.ceilings import X``: the copy would not
see the forced value.
"""

# Single-task CC kernel: a canonical edge set under 4M rows (~64 MiB of
# (u, v) longs through Arrow) is solved in ONE executor task by the numpy
# min-label/pointer-jumping kernel, replacing ~6 star rounds of ~10
# scheduler jobs each (at fixture scale the fixpoint's cost was pure
# driver/stage overhead: 127-job bills with 6 s of between-job gaps).
CC_LOCAL_MAX_EDGES = 1 << 22

# Node-sized label broadcasts in the CC star rounds and the coreness
# h-index loop: within ~4.2M nodes (two longs per row, ≈256 MiB hashed —
# the BROADCAST_MAX_BYTES budget) each round rides the labels onto the
# persisted u-partitioned edge relation map-side, making a dense coreness
# round ONE node-sized exchange instead of four edge-sized ones. Past it
# every join stays a shuffle join — never a forced broadcast of an
# unbounded relation.
CORENESS_BCAST_NODES = 1 << 22

# Broadcast budget for a packed matrix: the GEMM keys' bit-packed B operand
# (n_docs × |V|/8 bytes) and the embedding index (n × d × 8 bytes), read
# only by pipeline/packed.py's pack, the one gate every pair kernel uses. Under
# it the whole matrix broadcasts and the other side streams against it.
# Past it the GEMM keys run over the A×B block grid and the embedding
# verifies shuffle-gather candidate vectors by two equi-joins — memory per
# task is one block or one candidate batch, never the corpus. Assembly
# holds ~3x the gated bytes on the driver at peak (collected rows, the
# concatenate copy, the serialized broadcast).
BROADCAST_MAX_BYTES = 256 << 20

# Vocabulary-id map: under it the distinct terms come from one bounded
# driver collect (at most VOCAB_BROADCAST_MAX_TERMS + 1 Rows) and the
# terms→ids join is map-side. Past it ids come from a distributed
# zipWithIndex and a plain shuffle join — an open-vocabulary corpus still
# packs correctly (and takes the grid path, since n_docs × |V|/8 is far
# past BROADCAST_MAX_BYTES too).
VOCAB_BROADCAST_MAX_TERMS = 1 << 22

# Single-task tokenizer trainers (BPE merges and the unigram hard-EM
# loop): the training state is the Heaps-bounded distinct-pretoken
# relation (never the corpus), and under ~2M pretokens the whole loop runs
# in ONE task — which is how production trainers work (Sennrich et al.'s
# reference and HF tokenizers train single-node over aggregated pretoken
# counts) — instead of per-round collect jobs whose overhead dominated at
# fixture scale. A few GiB of Python objects in one worker at the ceiling.
TRAIN_LOCAL_MAX = 1 << 21

# Banded-pair salt: a floor, not a ceiling. Under it the band relation is
# broadcast-scale (4 bands × ~200 B/row ≈ 400 MiB at 512Ki docs) and AQE
# picks a broadcast-hash join. There the probe side keeps its own
# round-robin partitioning, so a hot bucket's fan-out is already split
# across every probe task, and a build-side salt multiplies the hash
# relation G× for no parallelism (an unconditional G=16 salt regressed
# dedup_staged 2.0 s → 11.0 s; its ~2290-doc buckets ran fine unsalted).
# Past it the join shuffles on the band key, where one degenerate bucket
# is unsplittable by AQE's skew handling and the G-way probe salt carves
# it into G keys.
PAIR_SALT_MIN_DOCS = 1 << 19

# Weighted-MinHash verify: 64Ki candidate-relevant docs × ~4 KiB capped
# term->count map ≈ 256 MiB, the BROADCAST_MAX_BYTES budget. Past it the
# verify falls back to the skinny intersection equi-join.
WVER_BCAST_DOCS = 65536
