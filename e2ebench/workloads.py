"""The benchmark's workloads and which layer each operation is counted in.

`batch_pipeline` and `fixpoint_loops` are lists of (operation, input
tables, why). An operation is a declared `SparkEntry.queries` key, or one
of the harness's calls into `graft.api` / `graft.Tables` (`tables_scan`,
`knn_converged`, `windows_sliding`, `windows_panes`).
The input tables give the rows an operation consumes, for
`throughput_rows_per_s`. `event_stream` is defined in the harness
(`StreamRunner`) and sized in `gen.py`.
"""

WORKLOADS = {
    "event_stream": {},
    "batch_pipeline": {"ops": [
        ("tables_scan", ["events"],
         "Tables.events read in full: the parquet scan and ts normalization every key starts with"),
        ("event_cep", ["events"],
         "Cep.runThenFinal: click run then purchase WITHIN 10 minutes (the Cep layer)"),
        ("dedup_minhash_pairs", ["documents"],
         "Dedup.minhashPairsMd5: banded MinHash candidates with exact-Jaccard verify"),
        ("join_fuzzy_edit", ["customer"],
         "Joins.fuzzyEditJoin: SymSpell edit-distance-1 self join on customer names"),
        ("text_bpe_vocab", ["documents"],
         "Bpe.vocabDf: 12 BPE merge rounds over the corpus (the text layer)"),
        ("windows_sliding", ["events"],
         "Windows.sliding, 6 h / 10 min: each event lands in 36 windows"),
        ("windows_panes", ["events"],
         "Windows.slidingByPanes over the same windows: 10 min panes rolled up 36 at a time"),
        ("stream_pane_twolevel", ["events"],
         "batch replay of StreamOps.paneTwoLevel, which event_stream runs streaming"),
        ("stream_custom_trigger", ["events"],
         "batch replay of StreamOps.customTrigger, which event_stream runs streaming"),
    ]},
    "fixpoint_loops": {"ops": [
        ("graph_kcore", ["embeddings"],
         "Graphs.kcoreWithRound frontier peel over the capped kNN graph"),
        ("knn_converged", ["embeddings"],
         "Similarity.knnGraphConvergedWithRound: NN-Descent rounds to the fixpoint"),
        ("dedup_clusters", ["documents"],
         "Dedup.clusters: label propagation over the Jaccard pair graph"),
    ]},
}

# The large-ratio sliding window pair: windows of WINDOW_SLOTS slides.
WINDOW_SLIDE_MIN = 10
WINDOW_SLOTS = 36

# knn_converged: k neighbours, from an LSH base graph of KNN_TABLES tables
# of KNN_BITS bits each.
KNN_K = 5
KNN_TABLES = 16
KNN_BITS = 3

# Per-layer metrics each operation adds to, per round, from its own
# figures: `build` (time inside the call that returns the DataFrame, where
# the eager loops run), `action` (the collecting action), `total` (both),
# `jobs` (Spark jobs during both) and `rounds` (loop rounds it reports).
# Every operation also adds to queries.build_s and queries.action_s.
LAYERS = {
    "tables_scan": [("tables.scan_s", "total")],
    "event_cep": [("cep.build_s", "build"), ("cep.action_s", "action")],
    "dedup_minhash_pairs": [("dedup.action_s", "action")],
    "join_fuzzy_edit": [("joins.fuzzy_action_s", "action")],
    "text_bpe_vocab": [("text.action_s", "action")],
    "windows_sliding": [("windows.sliding_s", "total")],
    "windows_panes": [("windows.panes_s", "total")],
    "graph_kcore": [("graphs.build_s", "build"), ("graphs.jobs", "jobs"),
                    ("graphs.rounds", "rounds")],
    "knn_converged": [("similarity.knn_build_s", "build"), ("similarity.knn_rounds", "rounds")],
    "dedup_clusters": [("dedup.clusters_build_s", "build")],
}
