"""What each workload runs, decided by --seed and --seconds alone
(board_cold by --seconds alone: see `board`).

--seconds sets the amount of work, not a deadline: each constant below
is what one unit of work cost at the commit that defined the benchmark
(4 cores), so a faster or slower program measures proportionally less or
more. (A short board pass costs more per query than the full pass the
board constant comes from: cold JVM start-up weighs more.)"""
import math
import random

# board_cold: a cold pass over all declared queries took 110 s, so the
# pass runs every `stride`-th query (by sorted name, which keeps each
# family's share) with stride = ceil(BOARD_FULL_S / seconds).
BOARD_FULL_S = 110.0

# serve_warm: the 22 retrieval and serving queries over built structures.
SERVE = [
    "ann_ivf_topk", "ann_ivf_probe_only", "ann_knn_classify_ivf", "ann_hard_negatives_ivf",
    "ann_pq_topk", "ann_pq_probe_only", "ann_ivfpq_topk",
    "ann_graph_search", "ann_graph_probe_only", "ann_graph_tombstone_search",
    "ann_graph_maintain_serve",
    "ann_bruteforce_topk", "ann_quant_topk", "ann_mips_topk", "ann_lsh_topk",
    "ann_radius_search", "ann_hybrid_rrf",
    "text_bm25_topk", "text_bm25_querytable",
    "dedup_incremental_probe", "dedup_semantic_probe", "kmeans_assign",
]
# one block calls each SERVE query once, in a seeded order: 5 s of calls
SERVE_BLOCK_S = 5.0

# kmeans_lloyd: generated points and the cost of one pass over them
KMEANS_POINTS = 20000
KMEANS_PASS_S = 4.0


def board(names, seconds):
    """Every stride-th query by name, in name order. The order is fixed
    on purpose: memos and indexes are shared within and across families,
    so the order decides which query pays each build, and seeded orders
    moved the per-call percentiles by 15-35 % between seeds."""
    return sorted(names)[::max(1, math.ceil(BOARD_FULL_S / seconds))]


def serve(seed, seconds):
    rng = random.Random(seed)
    seq = []
    for _ in range(max(1, round(seconds / SERVE_BLOCK_S))):
        block = list(SERVE)
        rng.shuffle(block)
        seq += block
    return seq


def kmeans_passes(seconds):
    return max(1, round(seconds / KMEANS_PASS_S))
