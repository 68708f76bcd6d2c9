"""Fixed benchmark configuration: workloads, queries, input sizes, model.

Everything here is copied into the benchmark on purpose, so that edits to the
repository's own ``bench.py`` cannot change what this
benchmark measures.
"""

from __future__ import annotations

WORKLOADS = ("olap", "ner_bert")

# The DuckDB-paired headline queries (bench.py's HEADLINE minus q_ner*).
OLAP_QUERIES = (
    "q_agg_group",
    "q_filter",
    "q_join_inner",
    "q_join_multi",
    "q_join_outer",
    "q_topk",
    "q_window_rank",
    "q_window_frame",
    "q_subquery",
    "q_array",
    "q_json",
    "q_dedup_exact",
    "q_dedup_near",
    "q_sim_topk",
    "q_text_stats",
    "q_fingerprint",
)
# Timed warm rounds run until --seconds of Spark time is measured, and at
# least this many, so every query has a DuckDB-paired time in each of them.
OLAP_MIN_ROUNDS = 2
# Queries that read the documents table (docs_per_s on the olap workload).
DOC_QUERIES = ("q_dedup_exact", "q_dedup_near", "q_text_stats", "q_fingerprint")

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Row counts of the generated tables: half the sf0.1 sizes of the
# repository's test tables (TESTDATA.md), i.e. sf0.05, regenerated from the
# seed inside the checkout. Half size keeps one run within the time budget
# (query compilation, not data volume, dominates the cold pass either way).
ROWS = {
    "customer": 7_500,
    "supplier": 500,
    "part": 10_000,
    "orders": 75_000,
    "lineitem": 300_000,
    "events": 50_000,
    "documents": 2_500,
    "embeddings": 1_000,
}
EMBED_DIM = 64

# Words of the documents table (the vocabulary of the sf0.1 test corpus).
DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)

# ---- ner_bert -------------------------------------------------------------
# Model: q_ner_bert's tiny BERT (GGML container, seeded random weights).
NER_VOCAB = (
    "[CLS]", "[SEP]", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "a", "the", "batch", "window", "spark", "order",
    "data", "column", "join", "small", "line", "customer", "query", "merge",
    "big", "filter", "sort", "stream", "group",
)
NER_MODEL = dict(n_embd=32, n_head=4, n_layer=2, n_labels=9, n_max_tokens=128, seed=11)
# Words outside the model vocabulary: the tokenizer's byte-skip and partial
# wordpiece paths.
NER_OOV_WORDS = (
    "vector", "duckdb", "parquet", "arrow", "shuffle", "Spark,", "tables.",
    "zq", "xylem", "keyed", "rows", "joined", "sorting", "Merge", "42",
)
NER_OOV_SHARE = 0.15
NER_DOCS = 8_000
NER_SLICES = 16  # 500 documents per slice
NER_FILES = 8  # >= nproc on the hosts this runs on, so a slice's scan spreads over the cores
# Words per document: 1 + floor(lognormal(ln 24, 0.9)), capped at 160 words so
# the longest documents pass the model's 128-token limit (truncation path).
NER_LEN_MEDIAN_WORDS = 24
NER_LEN_SIGMA = 0.9
NER_LEN_CAP_WORDS = 160
# The in-process layer replay batches rows like the engine's Arrow batches,
# over the first NER_LAYER_SLICES distinct timed slices.
NER_REPLAY_BATCH = 2048
NER_LAYER_SLICES = 4
# ner_bert's first operations: the first-run metrics cover the session's
# first NER_FIRST_OPS operations, each with its DuckDB twin. The first one's
# time (model load, NER plan) varies by a third between runs, and later
# ones still fall by a fifth, so the first alone is no steady measure.
NER_FIRST_OPS = 7
# Untimed ner_bert operations between the first ones and the timed ones, so
# the timed ones sit further into that fall.
NER_WARMUP_OPS = 8
# The repository's cold-pass warmup repeats its shapes 6 times; 2 keeps a run
# within budget (the first repetition does most of the JIT work).
COLD_WARMUP_REPS = 2
