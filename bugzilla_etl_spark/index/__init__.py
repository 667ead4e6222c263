"""Inverted-index build / query / merge.

The engine-side analog of the reference's Elasticsearch index
(/root/reference/configuration/es/bug_version.json): immutable segment
shards + a manifest whose atomic swap plays the role of the reference's
index-alias swap (/root/reference/bin/import_bugs.sh:21-23).
"""

from .aggs import (
    cardinality_agg,
    composite_agg,
    count_matches,
    date_histogram_agg,
    adjacency_matrix_agg,
    filters_agg,
    histogram_agg,
    missing_agg,
    multi_agg,
    percentiles_agg,
    range_agg,
    significant_terms_agg,
    significant_text_agg,
    stats_agg,
    terms_agg,
)
from .boolquery import (
    Bool,
    explain_bool,
    bool_search,
    bool_search_many,
    match_all_search,
    rescore_search,
)
from .build import build_index, incremental_update, prepare_docs
from .export import matches_df
from .mlt import mlt_search, mlt_select_terms
from .percolate import percolate_condition, percolate_df
from .suggest import complete_suggest, term_suggest
from .highlight import highlight_docs, highlight_text
from .hybrid import rrf_search
from .knn import knn_search, knn_search_many
from .manifest import IndexManifest
from .merge import compact_tiered, gc_retired, merge_indexes, merge_segments
from .multimatch import multi_match_search, multi_match_search_many
from .nested import nested_search, nested_search_many, nested_terms_agg
from .publish import (
    next_build_dir,
    publish_alias,
    publish_index,
    resolve_alias,
    resolve_index,
    rollover,
)
from .alias import (
    multi_index_count,
    multi_index_search,
    multi_index_terms_agg,
)
from .msearch import msearch
from .querystring import parse_query_string, query_string_search
from .query import (
    explain_search,
    fetch_docs,
    fuzzy_search,
    fuzzy_search_many,
    match_phrase_prefix_search,
    match_phrase_prefix_search_many,
    phrase_search,
    phrase_search_many,
    prefix_search,
    prefix_search_many,
    regexp_search,
    regexp_search_many,
    search,
    search_many,
    wildcard_search,
    wildcard_search_many,
)

__all__ = [
    "Bool",
    "IndexManifest",
    "bool_search",
    "bool_search_many",
    "build_index",
    "match_all_search",
    "matches_df",
    "mlt_search",
    "mlt_select_terms",
    "percolate_condition",
    "percolate_df",
    "rescore_search",
    "compact_tiered",
    "complete_suggest",
    "term_suggest",
    "explain_search",
    "fetch_docs",
    "fuzzy_search",
    "fuzzy_search_many",
    "cardinality_agg",
    "gc_retired",
    "highlight_docs",
    "highlight_text",
    "histogram_agg",
    "date_histogram_agg",
    "incremental_update",
    "knn_search",
    "knn_search_many",
    "merge_indexes",
    "merge_segments",
    "multi_agg",
    "composite_agg",
    "count_matches",
    "adjacency_matrix_agg",
    "filters_agg",
    "missing_agg",
    "msearch",
    "multi_index_count",
    "multi_index_search",
    "multi_index_terms_agg",
    "percentiles_agg",
    "significant_terms_agg",
    "significant_text_agg",
    "explain_bool",
    "match_phrase_prefix_search",
    "match_phrase_prefix_search_many",
    "multi_match_search",
    "multi_match_search_many",
    "nested_search",
    "nested_search_many",
    "nested_terms_agg",
    "next_build_dir",
    "phrase_search",
    "phrase_search_many",
    "prefix_search",
    "prefix_search_many",
    "regexp_search",
    "regexp_search_many",
    "parse_query_string",
    "prepare_docs",
    "publish_alias",
    "publish_index",
    "resolve_alias",
    "rrf_search",
    "rollover",
    "query_string_search",
    "range_agg",
    "resolve_index",
    "search",
    "search_many",
    "wildcard_search",
    "wildcard_search_many",
    "stats_agg",
    "terms_agg",
]
