"""The benchmark's workloads: which keys or requests each one runs, and why.

Both run on the repository's sf0.01 test corpus (`perfbench/data/sf0.01`:
60,000 lineitem rows, 500 documents, 500 embeddings, 10,000 events, each
table one parquet file and row group) in a fresh JVM with local[nproc].
The seed fixes the key order of every pass and the serving schedule and
probes; the corpus is the same for every seed.

The batch workload is a closed loop with one caller: keys run one at a
time, pass 1 (empty artifact stores) then warm passes in the same session,
each pass in an order shuffled by the seed.

Keys of the engine that no workload runs, and why:
  - q_io_roundtrip, q_zorder_scan, q_compaction, q_schema_evolution,
    q_schema_drift, q_text_ingest, q_metric_transparent, q_metric_index,
    q_sql_copy: they write to fixed paths under /tmp, outside the run's
    directory;
  - q_winnow, q_sql_winnow: each runs past the 20 s per-key deadline (one
    task), so every run would report them as failed operations and spend
    a capped 20 s per pass on each;
  - the other keys of each module: one key per module is what a run of
    --seconds can hold after a fresh JVM's start.
"""

# One key per operator module, picked for the mechanism it exercises.
BATCH = [
    "q_min_cost_supplier",      # Relational: multi-way join and minimum
    "q_asof_join",              # AsOf: as-of join
    "q_dedup_jaccard",          # Dedup: word-set Jaccard pairs
    "q_embed_neardup",          # Similarity: cosine near-dup, PairStore
    "q_quality",                # TextAnalysis: per-document text kernels
    "q_multimodal",             # Multimodal
    "q_data_cards",             # Pipeline: chained stages
    "q_sample_stratified",      # Sampling
    "q_ann_ivfpq",              # PqIndex: IVF + PQ codebook fit (LocalKMeans)
    "q_embed_pca",              # Pca
    "q_sql_metric_search",      # SqlQueries: emdrive SQL over a metric layout
    "q_stream_dedup",           # StreamQueries: streaming replay of a dedup stage
]

WORKLOADS = {
    "batch": {"kind": "batch", "keys": BATCH, "deadline_ms": 20000},
    # an open loop at a fixed rate: about two-thirds of the 8.3 requests/s
    # that four closed-loop connections reached on a 4-core box even with
    # the heavier classes mixed in (the load sends only lookups and writes),
    # so at most one request is in flight on that box; 60 requests a run
    "serving": {"kind": "serving", "rate": 6.0, "conns": 4, "deadline_ms": 15000},
}
