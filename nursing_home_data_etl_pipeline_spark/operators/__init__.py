"""Operator library: pure ``DataFrame -> DataFrame`` functions.

Each module maps to a SURVEY.md §2 family; docstrings cite the reference
behavior (file:line under /root/reference) each operator re-expresses.
The most-used operators are re-exported here for library ergonomics.
"""

from .aggregates import (  # noqa: F401
    cube_agg,
    group_agg,
    pivot_agg,
    rollup_agg,
    time_rollup,
    unpivot_stack,
)
from .asof import asof_join  # noqa: F401
from .ranges import range_join_points  # noqa: F401
from .chunking import chunk_table  # noqa: F401
from .cleaning import (  # noqa: F401
    cast_all_to_string,
    clean_table,
    normalize_column_names,
    rename_columns,
    trim_all,
)
from .components import connected_components, dup_clusters  # noqa: F401
from .dedup import (  # noqa: F401
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)
from .ids import with_dense_id, with_etl_metadata, with_fast_id  # noqa: F401
from .packing import pack_sequences  # noqa: F401
from .joins import (  # noqa: F401
    anti_join,
    latest_per_key,
    left_enrich,
    merge_scd1,
)
from .multimodal import (  # noqa: F401
    decode_fake,
    with_binary_payload,
)
from .projections import (  # noqa: F401
    drop_columns_if_present,
    select_columns,
    select_columns_matching,
)
from .sampling import (  # noqa: F401
    hash_split,
    stratified_deterministic_sample,
)
from .similarity import (  # noqa: F401
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_dup_pairs,
)
from .windows import (  # noqa: F401
    lags_scaled,
    running_agg,
    running_sum_scaled,
    top_k_global,
    top_k_per_group,
)
