from data_warehouse_punta_fina_spark.operators.asof import (  # noqa: F401
    asof_join,
    gap_fill_locf,
    sessionize,
)
from data_warehouse_punta_fina_spark.operators.reconcile import (  # noqa: F401
    reconcile_full_outer,
    symmetry_counts,
)
from data_warehouse_punta_fina_spark.operators.behavior import (  # noqa: F401
    funnel_progress,
    retention_cohorts,
)
from data_warehouse_punta_fina_spark.operators.dedup import (  # noqa: F401
    dedupe_by_grain,
    duplicate_groups,
    exact_dedup,
    incremental_lsh_dedup,
    jaccard_on_candidates,
    minhash_band_keys,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    edit_distance_near_dup,
    simhash64,
)
from data_warehouse_punta_fina_spark.operators.materialize import materialize  # noqa: F401
from data_warehouse_punta_fina_spark.operators.packing import (  # noqa: F401
    chunk_documents,
    pack_documents,
)
from data_warehouse_punta_fina_spark.operators.retrieval import (  # noqa: F401
    bm25_topk,
    tfidf_doc_pairs,
)
from data_warehouse_punta_fina_spark.operators.scd import (  # noqa: F401
    pit_lookup,
    scd2_merge,
    snapshot_diff,
    type1_upsert,
)
from data_warehouse_punta_fina_spark.operators.quality import (  # noqa: F401
    check_double_entry,
    robust_outliers,
)
from data_warehouse_punta_fina_spark.operators.validation import (  # noqa: F401
    benford_deviation,
    profile_table,
)
from data_warehouse_punta_fina_spark.operators.text_quality import (  # noqa: F401
    bigram_surprisal,
    ngram_rows,
    repetition_metrics,
    source_quality_report,
    unigram_surprisal,
)
from data_warehouse_punta_fina_spark.operators.incremental import (  # noqa: F401
    aggregate_delta,
    incremental_agg_merge,
)
from data_warehouse_punta_fina_spark.operators.index_admin import (  # noqa: F401
    read_tombstone,
    retire_index_dir,
)
from data_warehouse_punta_fina_spark.operators.journal import explode_journal_entries  # noqa: F401
from data_warehouse_punta_fina_spark.operators.pivots import (  # noqa: F401
    conditional_sum,
    pivot_sum,
)
from data_warehouse_punta_fina_spark.operators.sk_lookup import scalar_lookup, sk_lookup  # noqa: F401
from data_warehouse_punta_fina_spark.operators.similarity import (  # noqa: F401
    brute_force_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    mmr_topk,
    pq_fit,
    pq_topk,
    projection_matrix,
    random_projection,
    sign_bucket,
)
from data_warehouse_punta_fina_spark.operators.windows import (  # noqa: F401
    lag_prev,
    partitioned_sequential_id,
    ranked_sequential_id,
    running_total,
    top_n_per_group,
)
