"""Command-line entry points — the analog of the reference's bin/
scripts (import_bugs.sh, update_bugs_incr.sh, rewind.sh).

Usage (local or via spark-submit --py-files <package.zip>):

    python -m bugzilla_etl_spark.cli build --corpus PATH --index DIR \
        [--shards N] [--tb N] [--salts N] [--batches N]
    python -m bugzilla_etl_spark.cli incremental --corpus PATH --index DIR
    python -m bugzilla_etl_spark.cli search --index DIR --query "..." [-k 10] \
        [--filter COL=VALUE ...] [--filter-ge COL=N] [--filter-le COL=N]
    python -m bugzilla_etl_spark.cli phrase --index DIR --query "exact phrase" [-k 10]
    python -m bugzilla_etl_spark.cli merge --index DIR
    python -m bugzilla_etl_spark.cli compact --index DIR [--max-segments 8] [--fan-in 4]
    python -m bugzilla_etl_spark.cli verify --corpus PATH --index DIR
    python -m bugzilla_etl_spark.cli stats --index DIR
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_filters(
    pred: list[tuple[str, str]],
    col_types: dict[str, str] | None = None,
) -> list[tuple[str, str, object]] | None:
    """COL=VALUE filter args -> predicate triples with coercion.

    When the index manifest records the column's type (typed doc_attrs
    mapping + the fixed docs-dimension columns), the value coerces to
    exactly that type — so ``--filter lang=200`` against a string column
    stays the string '200' while ``--filter n_chars=200`` against an
    int column becomes int 200 (ADVICE r4). Columns with no recorded
    type fall back to numeric-first guessing. Unparseable numerics are
    a clean usage error, not a ValueError traceback."""
    if not pred:
        return None
    from .index.predicate import BASE_COL_TYPES, _type_class

    types = dict(BASE_COL_TYPES)
    types.update(col_types or {})
    predicate: list[tuple[str, str, object]] = []
    for op, f in pred:
        col, eq, val_s = f.partition("=")
        if not eq or not col:
            raise SystemExit(f"filter must look like COL=VALUE: {f!r}")
        val: object
        cls = _type_class(types[col]) if col in types else None
        try:
            if cls == "str":
                val = val_s
            elif cls == "int":
                val = int(val_s)
            elif cls == "float":
                val = float(val_s)
            elif cls == "bool":
                if val_s.lower() not in ("true", "false"):
                    raise ValueError(val_s)
                val = val_s.lower() == "true"
            else:  # unknown column: numeric-first fallback
                try:
                    val = int(val_s)
                except ValueError:
                    try:
                        val = float(val_s)
                    except ValueError:
                        if op in (">=", "<="):
                            raise
                        val = val_s
        except ValueError:
            raise SystemExit(
                f"filter value {val_s!r} does not parse as the "
                f"{types.get(col, 'numeric')} column {col!r} expects"
            ) from None
        predicate.append((col, op, val))
    return predicate


def _attr_types(index_dir: str) -> dict[str, str]:
    """Recorded doc_attr types from the manifest (empty for pre-typed
    indexes — filters then use the fallback coercion)."""
    from .index.manifest import IndexManifest

    try:
        return IndexManifest.load(index_dir).doc_attr_types
    except Exception:  # noqa: BLE001 - missing/corrupt manifest errors later
        return {}


def main(argv: list[str] | None = None) -> int:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--master", default=None, help="spark master (default: env/local[*])"
    )
    ap = argparse.ArgumentParser(prog="bugzilla_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", parents=[common], help="full index build (resumable)")
    b.add_argument("--corpus", required=True, help="parquet dir of (repo,path,commit,lang,content)")
    b.add_argument("--index", required=True)
    b.add_argument("--shards", type=int, default=64)
    b.add_argument("--tb", type=int, default=16)
    b.add_argument("--salts", type=int, default=1)
    b.add_argument("--batches", type=int, default=1)
    b.add_argument(
        "--field", action="append", default=[], metavar="NAME=CHAIN",
        help="extra field variant (e.g. shingled=code_v1_shingle); repeatable",
    )
    b.add_argument(
        "--positions", action="store_true",
        help="store positional payload (enables `phrase` queries)",
    )
    b.add_argument(
        "--attr", action="append", default=[], metavar="COL",
        help="carry corpus column into the docs dimension (filterable); repeatable",
    )
    b.add_argument(
        "--store-source", action="store_true",
        help="keep raw content in the docs dimension (ES _source; "
             "enables `highlight`)",
    )

    i = sub.add_parser("incremental", parents=[common], help="ingest new docs as a segment")
    i.add_argument("--corpus", required=True)
    i.add_argument("--index", required=True)

    s = sub.add_parser("search", parents=[common], help="BM25 top-k")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--field", default="content", help="field variant to query")
    s.add_argument(
        "--filter", action="append", default=[], metavar="COL=VALUE",
        help="docs-dimension equality predicate; repeatable (AND)",
    )
    s.add_argument(
        "--filter-ge", action="append", default=[], metavar="COL=N",
        help="docs-dimension >= predicate (numeric); repeatable",
    )
    s.add_argument(
        "--filter-le", action="append", default=[], metavar="COL=N",
        help="docs-dimension <= predicate (numeric); repeatable",
    )
    s.add_argument(
        "--must-not", action="append", default=[], metavar="TERM",
        help="bool.must_not text term (docs containing it are excluded); repeatable",
    )
    s.add_argument(
        "--operator", default="or", choices=["or", "and"],
        help="match semantics: or (any term) / and (every term must occur)",
    )
    s.add_argument(
        "--negative", action="append", default=[], metavar="TERM",
        help="ES boosting query: docs containing TERM keep matching but "
             "their score multiplies by --negative-boost; repeatable",
    )
    s.add_argument(
        "--negative-boost", type=float, default=0.5,
        help="score multiplier for --negative matches (0..1, default 0.5)",
    )
    s.add_argument(
        "--collapse", default=None, metavar="ATTR",
        help="ES field collapsing: at most one hit (the best-scored) per "
             "distinct value of this docs-dimension attribute",
    )
    s.add_argument(
        "--after", nargs=2, default=None, metavar=("SCORE", "DOC_ID"),
        help="ES _score pagination: the previous page's last hit, "
             "passed VERBATIM (score then doc_id); strictly-after "
             "rows return",
    )
    s.add_argument(
        "--collapse-inner-hits", type=int, default=None, metavar="N",
        help="with --collapse: also return each group's top-N members "
             "(ES inner_hits; fetched in a bounded second phase)",
    )
    s.add_argument(
        "--fvf", action="append", default=[],
        metavar="FIELD[:MODIFIER[:FACTOR]]",
        help="ES function_score field_value_factor over a numeric "
             "doc_attr (modifier none|log1p|ln1p|sqrt|square|reciprocal); "
             "repeatable",
    )
    s.add_argument(
        "--gauss", action="append", default=[],
        metavar="FIELD:ORIGIN:SCALE[:DECAY]",
        help="ES function_score gauss decay over a numeric doc_attr; "
             "repeatable",
    )
    s.add_argument(
        "--fs-score-mode", default="multiply",
        choices=["multiply", "sum", "avg", "max", "min", "first"],
        help="how multiple function values combine",
    )
    s.add_argument(
        "--fs-boost-mode", default="multiply",
        choices=["multiply", "sum", "replace", "max", "min", "avg"],
        help="how the function score combines with the query score",
    )

    ph = sub.add_parser(
        "phrase", parents=[common],
        help="exact match_phrase over a positional index",
    )
    ph.add_argument("--index", required=True)
    ph.add_argument("--query", required=True)
    ph.add_argument("-k", type=int, default=10)
    ph.add_argument(
        "--scoring", default="gate",
        choices=["gate", "phrase_freq", "sloppy_freq"],
        help="gate: constituent-term BM25 sum; phrase_freq: occurrence "
             "tf; sloppy_freq: Lucene sloppy weights 1/(1+matchLength)",
    )
    ph.add_argument(
        "--filter", action="append", default=[], metavar="COL=VALUE",
        help="docs-dimension equality predicate; repeatable (AND)",
    )
    ph.add_argument(
        "--filter-ge", action="append", default=[], metavar="COL=N",
        help="docs-dimension >= predicate (numeric); repeatable",
    )
    ph.add_argument(
        "--filter-le", action="append", default=[], metavar="COL=N",
        help="docs-dimension <= predicate (numeric); repeatable",
    )
    ph.add_argument(
        "--slop", type=int, default=0,
        help="proximity slop (0 = exact adjacency)",
    )
    ph.add_argument(
        "--unordered", action="store_true",
        help="Lucene unordered sloppy semantics (transposition costs 2)",
    )

    ma = sub.add_parser(
        "match-all", parents=[common],
        help="filter-only query (ES match_all + filter context): every "
             "live doc WHERE filters, ordered by a typed attr, paged",
    )
    ma.add_argument("--index", required=True)
    ma.add_argument("-k", type=int, default=10)
    ma.add_argument(
        "--filter", action="append", default=[], metavar="COL=VALUE")
    ma.add_argument(
        "--filter-ge", action="append", default=[], metavar="COL=N")
    ma.add_argument(
        "--filter-le", action="append", default=[], metavar="COL=N")
    ma.add_argument("--sort", default="doc_id",
                    help="docs-dimension attr to order by")
    ma.add_argument("--desc", action="store_true")
    ma.add_argument(
        "--after", nargs=2, default=None, metavar=("KEY", "DOC_ID"),
        help="search_after cursor from the previous page's last hit",
    )
    ma.add_argument(
        "--collapse", default=None, metavar="ATTR",
        help="ES field collapsing: one hit (the best by --sort) per "
             "distinct value of this docs-dimension attribute",
    )

    ag = sub.add_parser(
        "agg", parents=[common],
        help="aggregation (ES facet) over a query's match set: "
             "terms / range / stats on a docs-dimension attr",
    )
    ag.add_argument("--index", required=True)
    ag.add_argument("--kind", required=True,
                    choices=["terms", "range", "stats", "histogram",
                             "cardinality", "percentiles", "sig_terms",
                             "sig_text",
                             "date_histogram", "composite", "filters",
                             "adjacency_matrix"])
    ag.add_argument("--sub-stats", default=None, metavar="ATTR",
                    help="terms agg: nested stats sub-aggregation over a "
                         "numeric attr per bucket")
    ag.add_argument("--sub-hits", type=int, default=None, metavar="N",
                    help="terms agg: top_hits sub-aggregation — each "
                         "bucket's top-N docs by BM25 score")
    ag.add_argument("--precision", type=int, default=None,
                    help="cardinality agg: HyperLogLog precision p "
                         "(omit = exact distinct)")
    ag.add_argument("--interval", type=float, default=None,
                    help="histogram agg: fixed bucket width")
    ag.add_argument("--calendar", default=None,
                    choices=["day", "week", "month", "quarter", "year"],
                    help="date_histogram agg: calendar interval")
    ag.add_argument("--q", action="append", type=float, default=[],
                    metavar="Q", help="percentiles agg: quantile in "
                    "[0, 1]; repeatable")
    ag.add_argument("--attr", default=None,
                    help="docs-dimension attr (every kind but composite)")
    ag.add_argument(
        "--source", action="append", default=[], metavar="ATTR[:INTERVAL]",
        help="composite agg source, in key order: a bare attr is a "
             "terms source, ATTR:INTERVAL a histogram source; repeatable",
    )
    ag.add_argument(
        "--composite-after", nargs="*", default=None, metavar="KEY",
        help="composite agg: the previous page's last key components",
    )
    ag.add_argument(
        "--named", action="append", default=[], metavar="NAME:COL=VALUE",
        help="filters agg: one named equality bucket; repeatable (the "
             "Python API takes any predicate op)",
    )
    ag.add_argument("--query", default=None,
                    help="match clause text (omit for match_all)")
    ag.add_argument("--size", type=int, default=10, help="terms agg: top-N values")
    ag.add_argument("--order", nargs=2, default=None,
                    metavar=("_count|_key", "asc|desc"),
                    help="terms agg: ES bucket ordering (default "
                         "_count desc); exact under every order")
    ag.add_argument("--sample-per-bucket", type=int, default=None,
                    help="sig_text agg: analyze at most N matching docs "
                         "per bucket task (ES sampler discipline)")
    ag.add_argument(
        "--range", action="append", default=[], metavar="LO:HI",
        help="range agg boundary [lo, hi); empty side = unbounded; repeatable",
    )
    ag.add_argument(
        "--filter", action="append", default=[], metavar="COL=VALUE")

    mm = sub.add_parser(
        "multi-match", parents=[common],
        help="one query scored across N field variants "
             "(best_fields=max / most_fields=sum per doc)",
    )
    mm.add_argument("--index", required=True)
    mm.add_argument("--query", required=True)
    mm.add_argument("--fields", required=True,
                    help="comma-separated field list (e.g. content,shingled)")
    mm.add_argument("-k", type=int, default=10)
    mm.add_argument("--combine", default="best_fields",
                    choices=["best_fields", "most_fields"])

    nst = sub.add_parser(
        "nested", parents=[common],
        help="ES nested query: conjunctive match within ONE child doc, "
             "parent rollup per score_mode",
    )
    nst.add_argument("--index", required=True)
    nst.add_argument("--query", required=True)
    nst.add_argument("--parent-attr", required=True)
    nst.add_argument("-k", type=int, default=10)
    nst.add_argument("--score-mode", default="avg",
                     choices=["avg", "max", "sum", "none"])
    nst.add_argument("--phrase", action="store_true",
                     help="exact token sequence within one child")
    nst.add_argument("--agg", default=None, metavar="ATTR",
                     help="run a nested terms AGGREGATION over this attr "
                          "instead of returning hits")
    nst.add_argument("--agg-level", default="parent",
                     choices=["parent", "child"],
                     help="parent: distinct parents per value "
                          "(reverse_nested); child: matching children")
    nst.add_argument("--size", type=int, default=10)
    nst.add_argument("--inner-hits", type=int, default=None, metavar="N",
                     help="also return each winning parent's top-N "
                          "matching children (ES nested inner_hits; "
                          "bounded second phase)")

    pfx = sub.add_parser(
        "prefix", parents=[common],
        help="ES prefix query (dictionary expansion, top-terms rewrite)",
    )
    pfx.add_argument("--index", required=True)
    pfx.add_argument("--query", required=True)
    pfx.add_argument("-k", type=int, default=10)
    pfx.add_argument("--max-expansions", type=int, default=50)

    rx = sub.add_parser(
        "regexp", parents=[common],
        help="ES regexp query (anchored full-match; leading-literal "
             "range scan + vectorized verify, top-terms rewrite)",
    )
    rx.add_argument("--index", required=True)
    rx.add_argument("--query", required=True)
    rx.add_argument("-k", type=int, default=10)
    rx.add_argument("--max-expansions", type=int, default=50)

    wc = sub.add_parser(
        "wildcard", parents=[common],
        help="ES wildcard query (*/? patterns; literal-prefix range "
             "scan + regex verify, top-terms rewrite)",
    )
    wc.add_argument("--index", required=True)
    wc.add_argument("--query", required=True)
    wc.add_argument("-k", type=int, default=10)
    wc.add_argument("--max-expansions", type=int, default=50)

    als = sub.add_parser(
        "alias-search", parents=[common],
        help="ES alias over several indices: fan a query out to every "
             "member and merge by score (per-member statistics)",
    )
    als.add_argument("--alias", default=None,
                     help="alias/pointer file (publish_alias)")
    als.add_argument("--index", action="append", default=[],
                     help="member index dir; repeatable (alternative "
                          "to --alias)")
    als.add_argument("--query", required=True,
                     help="query-string syntax")
    als.add_argument("-k", type=int, default=10)
    als.add_argument(
        "--stats", choices=["local", "global"], default="local",
        help="local = per-member statistics (ES query_then_fetch); "
             "global = pre-summed cross-member stats "
             "(dfs_query_then_fetch — results identical to one merged "
             "index; the query parses against the FIRST member)",
    )

    kn = sub.add_parser(
        "knn", parents=[common],
        help="exact kNN over a stored vector doc_attr (ES knn search; "
             "filter pushed before the top-k)",
    )
    kn.add_argument("--index", required=True)
    kn.add_argument("--vector", required=True,
                    help="comma-separated query vector")
    kn.add_argument("-k", type=int, default=10)
    kn.add_argument("--vector-attr", default="embedding")
    kn.add_argument("--metric", choices=["cosine", "dot", "l2"],
                    default="cosine")
    kn.add_argument(
        "--filter", action="append", default=[], metavar="COL=VALUE")

    rr = sub.add_parser(
        "rrf", parents=[common],
        help="hybrid retrieval: reciprocal rank fusion of BM25 and kNN "
             "(ES rrf retriever)",
    )
    rr.add_argument("--index", required=True)
    rr.add_argument("--query", required=True, help="match text (BM25 leg)")
    rr.add_argument("--vector", required=True,
                    help="comma-separated query vector (kNN leg)")
    rr.add_argument("-k", type=int, default=10)
    rr.add_argument("--rank-constant", type=int, default=60)
    rr.add_argument("--window", type=int, default=100)
    rr.add_argument("--vector-attr", default="embedding")
    rr.add_argument(
        "--filter", action="append", default=[], metavar="COL=VALUE")

    ro = sub.add_parser(
        "rollover", parents=[common],
        help="ILM rollover: start a fresh alias member when the write "
             "member exceeds --max-docs / --max-segments (sparkless)",
    )
    ro.add_argument("--alias", required=True)
    ro.add_argument("--root", required=True,
                    help="directory new members are created under")
    ro.add_argument("--max-docs", type=int, default=None)
    ro.add_argument("--max-segments", type=int, default=None)

    cn = sub.add_parser(
        "count", parents=[common],
        help="ES _count: how many live docs match (no hits, no ranking)",
    )
    cn.add_argument("--index", required=True)
    cn.add_argument("--query", default=None,
                    help="match text (omit for match_all)")
    cn.add_argument(
        "--filter", action="append", default=[], metavar="COL=VALUE")

    msp = sub.add_parser(
        "msearch", parents=[common],
        help="ES _msearch: several query-string queries in one request "
             "(compatible entries share one batched job)",
    )
    msp.add_argument("--index", required=True)
    msp.add_argument(
        "--q", action="append", required=True, metavar="QUERY_STRING",
        help="one query (Lucene query_string syntax); repeatable — "
             "query ids are the 0-based flag order",
    )
    msp.add_argument("-k", type=int, default=10)
    msp.add_argument(
        "--default-operator", choices=["or", "and"], default="or",
    )

    pp = sub.add_parser(
        "phrase-prefix", parents=[common],
        help="ES match_phrase_prefix: phrase autocomplete — last token "
             "expands against the dictionary, best completion's score",
    )
    pp.add_argument("--index", required=True)
    pp.add_argument("--query", required=True)
    pp.add_argument("-k", type=int, default=10)
    pp.add_argument("--field", default="content")
    pp.add_argument("--max-expansions", type=int, default=50)
    pp.add_argument("--slop", type=int, default=0)

    q_s = sub.add_parser(
        "qs", parents=[common],
        help="ES query_string: one Lucene-syntax string (+must -not "
             "\"phrase\"~N a|b wild* fuzz~1 attr:value attr:[a TO b]) "
             "parsed into the composable bool DSL and executed",
    )
    q_s.add_argument("--index", required=True)
    q_s.add_argument("--query", required=True)
    q_s.add_argument("-k", type=int, default=10)
    q_s.add_argument("--field", default="content")
    q_s.add_argument(
        "--default-operator", choices=["or", "and"], default="or",
        help="how unmarked terms combine (or: optional; and: required)",
    )
    q_s.add_argument("--min-should-match", type=int, default=None)

    fz = sub.add_parser(
        "fuzzy", parents=[common],
        help="ES fuzzy match (edit-distance expansion, prefix_length pruning)",
    )
    fz.add_argument("--index", required=True)
    fz.add_argument("--query", required=True)
    fz.add_argument("-k", type=int, default=10)
    fz.add_argument("--max-edits", type=int, default=1)
    fz.add_argument("--prefix-length", type=int, default=1)
    fz.add_argument("--max-expansions", type=int, default=50)

    hl = sub.add_parser(
        "highlight", parents=[common],
        help="search + ES highlight: top-k hits with query terms marked "
             "in stored _source (store_source builds)",
    )
    hl.add_argument("--index", required=True)
    hl.add_argument("--query", required=True)
    hl.add_argument("-k", type=int, default=10)
    hl.add_argument("--field", default="content")
    hl.add_argument("--fragment-size", type=int, default=100)
    hl.add_argument("--n-fragments", type=int, default=1)
    hl.add_argument("--pre", default="<em>")
    hl.add_argument("--post", default="</em>")

    ex = sub.add_parser(
        "explain", parents=[common],
        help="query-plan introspection (no execution): terms, dfs, "
             "pruning, cost estimate, chosen execution harness",
    )
    ex.add_argument("--index", required=True)
    ex.add_argument("--query", required=True)
    ex.add_argument("--operator", default="or", choices=["or", "and"])
    ex.add_argument(
        "--qs", action="store_true",
        help="treat --query as Lucene query_string syntax: parse into "
             "the bool DSL and explain THAT plan (explain_bool)",
    )

    ml = sub.add_parser(
        "mlt", parents=[common],
        help="ES more_like_this: tf*idf interesting-term selection, "
             "then BM25 msm over the selected terms",
    )
    ml.add_argument("--index", required=True)
    ml.add_argument("--like", help="raw like-text")
    ml.add_argument("--unlike", default=None,
                    help="negative-example text: its term frequencies "
                         "subtract from --like before selection")
    ml.add_argument("--like-id", type=int,
                    help="doc_id (store_source builds; self excluded)")
    ml.add_argument("-k", type=int, default=10)
    ml.add_argument("--field", default="content")
    ml.add_argument("--max-query-terms", type=int, default=25)
    ml.add_argument("--min-term-freq", type=int, default=1)
    ml.add_argument("--min-doc-freq", type=int, default=2)
    ml.add_argument("--msm", type=float, default=0.3,
                    help="fraction (0,1] of selected terms, ES percentage")

    ts = sub.add_parser(
        "suggest", parents=[common],
        help="ES term suggester: spell corrections per token "
             "(distance asc, df desc) from the dictionary, sparkless",
    )
    ts.add_argument("--index", required=True)
    ts.add_argument("--text", required=True)
    ts.add_argument("--field", default="content")
    ts.add_argument("--max-edits", type=int, default=2)
    ts.add_argument("--prefix-length", type=int, default=1)
    ts.add_argument("--size", type=int, default=5)
    ts.add_argument(
        "--mode", default="missing", choices=["missing", "popular", "always"]
    )
    ts.add_argument("--min-doc-freq", type=int, default=0)

    cs = sub.add_parser(
        "complete", parents=[common],
        help="ES completion suggester: df-weighted type-ahead over the "
             "dictionary prefix range, sparkless",
    )
    cs.add_argument("--index", required=True)
    cs.add_argument("--prefix", required=True)
    cs.add_argument("--field", default="content")
    cs.add_argument("--size", type=int, default=10)

    m = sub.add_parser("merge", parents=[common], help="compact segments + tombstones")
    m.add_argument("--index", required=True)

    c = sub.add_parser(
        "compact", parents=[common],
        help="size-tiered compaction: merge only the smallest segments",
    )
    c.add_argument("--index", required=True)
    c.add_argument("--max-segments", type=int, default=8)
    c.add_argument("--fan-in", type=int, default=4)

    rb = sub.add_parser(
        "rebuild", parents=[common],
        help="full rebuild into a fresh generation dir + atomic pointer "
             "swap (the import_bugs.sh alias-repoint analog)",
    )
    rb.add_argument("--corpus", required=True)
    rb.add_argument("--root", required=True, help="directory holding generation dirs")
    rb.add_argument("--pointer", required=True, help="pointer file queries resolve")
    rb.add_argument("--shards", type=int, default=64)
    rb.add_argument("--tb", type=int, default=16)
    rb.add_argument("--positions", action="store_true")
    rb.add_argument("--attr", action="append", default=[], metavar="COL")
    rb.add_argument(
        "--swap", action="store_true",
        help="repoint the pointer after the build (omit for a dry build)",
    )

    v = sub.add_parser("verify", parents=[common], help="sha256 per-row invariant vs source")
    v.add_argument("--corpus", required=True)
    v.add_argument("--index", required=True)

    st = sub.add_parser("stats", parents=[common], help="print the committed manifest")
    st.add_argument("--index", required=True)

    g = sub.add_parser(
        "gc", parents=[common],
        help="remove retired segment dirs past the grace period",
    )
    g.add_argument("--index", required=True)
    g.add_argument("--grace", type=float, default=None,
                   help="seconds (default: SPARK_GRAFT_RETIRE_GRACE_S / 600)")

    args = ap.parse_args(argv)

    from .index.manifest import IndexManifest

    if args.cmd == "stats":  # no Spark session needed
        print(json.dumps(IndexManifest.load(args.index).__dict__, indent=1))
        return 0
    if args.cmd == "gc":  # no Spark session needed
        from .index.merge import gc_retired

        print(json.dumps({"removed": gc_retired(args.index, args.grace)}))
        return 0
    if args.cmd == "explain":  # no Spark session needed
        if args.qs:
            import os as _os

            from .index import explain_bool, parse_query_string
            from .index.manifest import IndexManifest

            idx = _os.path.abspath(args.index)
            q = parse_query_string(
                args.query, m=IndexManifest.load(idx), index_dir=idx,
                default_operator=args.operator,
            )
            print(json.dumps(explain_bool(idx, q), indent=1, default=str))
            return 0
        from .index import explain_search

        print(json.dumps(
            explain_search(args.index, args.query, operator=args.operator),
            indent=1,
        ))
        return 0
    if args.cmd == "rollover":  # no Spark session needed
        from .index import rollover as _rollover

        new_dir = _rollover(
            args.alias, args.root, max_docs=args.max_docs,
            max_segments=args.max_segments,
        )
        print(json.dumps({"rolled_over": new_dir is not None,
                          "new_member": new_dir}))
        return 0
    if args.cmd == "suggest":  # no Spark session needed
        from .index import term_suggest

        for tok, suggs in term_suggest(
            args.index, args.text, field=args.field,
            max_edits=args.max_edits, prefix_length=args.prefix_length,
            size=args.size, suggest_mode=args.mode,
            min_doc_freq=args.min_doc_freq,
        ):
            print(json.dumps({
                "input": tok,
                "suggestions": [
                    {"text": s, "df": df, "distance": d}
                    for s, df, d in suggs
                ],
            }))
        return 0
    if args.cmd == "complete":  # no Spark session needed
        from .index import complete_suggest

        for s, df in complete_suggest(
            args.index, args.prefix, field=args.field, size=args.size
        ):
            print(json.dumps({"text": s, "df": df}))
        return 0

    from .session import get_spark

    spark = get_spark(master=args.master, app_name=f"cli-{args.cmd}")

    if args.cmd == "build":
        from .index import build_index

        extra = dict(f.split("=", 1) for f in args.field)
        m = build_index(
            spark, spark.read.parquet(args.corpus), args.index,
            n_shards=args.shards, n_tb=args.tb, n_salts=args.salts,
            shard_batches=args.batches, extra_fields=extra or None,
            positions=args.positions, doc_attrs=args.attr or None,
            store_source=args.store_source,
        )
        print(json.dumps({"n_docs": m.n_docs, "segments": [s["id"] for s in m.segments]}))
    elif args.cmd == "incremental":
        from .index import incremental_update

        m = incremental_update(spark, spark.read.parquet(args.corpus), args.index)
        print(json.dumps({"n_docs": m.n_docs, "segments": [s["id"] for s in m.segments]}))
    elif args.cmd == "rebuild":
        from .index import build_index, next_build_dir, publish_index

        build_dir = next_build_dir(args.root, args.pointer)
        m = build_index(
            spark, spark.read.parquet(args.corpus), build_dir,
            n_shards=args.shards, n_tb=args.tb,
            positions=args.positions, doc_attrs=args.attr or None,
            store_source=args.store_source,
        )
        prev = None
        if args.swap:
            prev = publish_index(build_dir, args.pointer)
        print(
            json.dumps(
                {
                    "n_docs": m.n_docs,
                    "build_dir": build_dir,
                    "published": bool(args.swap),
                    "previous": prev,
                }
            )
        )
    elif args.cmd == "search":
        from .index import search

        pred = [("==", f) for f in args.filter] + [
            (">=", f) for f in args.filter_ge
        ] + [("<=", f) for f in args.filter_le]
        predicate = _parse_filters(pred, _attr_types(args.index))
        if (args.negative or args.collapse or args.fvf or args.gauss
                or args.after):
            # demotion / collapsing / function_score are Bool-DSL
            # capabilities: route through bool_search
            from .index import Bool, bool_search

            fns = []
            for spec in args.fvf:
                parts = spec.split(":")
                fvf: dict = {"field": parts[0]}
                if len(parts) > 1:
                    fvf["modifier"] = parts[1]
                if len(parts) > 2:
                    fvf["factor"] = float(parts[2])
                fns.append({"field_value_factor": fvf})
            for spec in args.gauss:
                parts = spec.split(":")
                if len(parts) < 3:
                    raise SystemExit("--gauss needs FIELD:ORIGIN:SCALE")
                g = {"field": parts[0], "origin": float(parts[1]),
                     "scale": float(parts[2])}
                if len(parts) > 3:
                    g["decay"] = float(parts[3])
                fns.append({"gauss": g})
            q = Bool(
                must=args.query, operator=args.operator,
                must_not=tuple(args.must_not), filter=tuple(predicate or ()),
                field=args.field, negative=tuple(args.negative),
                negative_boost=args.negative_boost,
                functions=tuple(fns),
                fs_score_mode=args.fs_score_mode,
                fs_boost_mode=args.fs_boost_mode,
            )
            hits = bool_search(
                spark, args.index, q, k=args.k, collapse=args.collapse,
                collapse_inner_hits=args.collapse_inner_hits,
                search_after=(
                    (float(args.after[0]), int(args.after[1]))
                    if args.after
                    else None
                ),
            )
        else:
            hits = search(
                spark, args.index, args.query, k=args.k, field=args.field,
                predicate=predicate,
                must_not=args.must_not or None, operator=args.operator,
            )
        for rank, h in enumerate(hits, 1):
            # "sort" carries the FULL-precision cursor for --after
            # (ES returns the sort values verbatim for search_after)
            row = {"rank": rank, "doc_id": h[0], "score": round(h[1], 6),
                   "sort": [h[1], h[0]]}
            if len(h) > 2:  # collapse inner_hits
                row["inner_hits"] = [
                    {"doc_id": int(d), "score": round(s, 6)} for d, s in h[2]
                ]
            print(json.dumps(row))
    elif args.cmd == "phrase":
        from .index import phrase_search

        pred = [("==", f) for f in args.filter] + [
            (">=", f) for f in args.filter_ge
        ] + [("<=", f) for f in args.filter_le]
        hits = phrase_search(
            spark, args.index, args.query, k=args.k, scoring=args.scoring,
            predicate=_parse_filters(pred, _attr_types(args.index)),
            slop=args.slop, ordered=not args.unordered,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "match-all":
        from .index import match_all_search

        pred = [("==", f) for f in args.filter] + [
            (">=", f) for f in args.filter_ge
        ] + [("<=", f) for f in args.filter_le]
        after = None
        if args.after is not None:
            key_s, did_s = args.after
            try:
                key: object = int(key_s)
            except ValueError:
                try:
                    key = float(key_s)
                except ValueError:
                    key = key_s
            after = (key, int(did_s))
        hits = match_all_search(
            spark, args.index,
            _parse_filters(pred, _attr_types(args.index)), k=args.k,
            sort_by=(args.sort, "desc" if args.desc else "asc"),
            search_after=after, collapse=args.collapse,
        )
        for rank, (doc_id, key) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "sort_key": key}))
    elif args.cmd == "agg":
        from .index import (
            Bool, cardinality_agg, histogram_agg, range_agg, stats_agg,
            terms_agg,
        )

        pred = _parse_filters(
            [("==", f) for f in args.filter], _attr_types(args.index)
        )
        q = Bool(must=args.query or (), filter=pred or ())
        if (args.kind not in ("composite", "filters", "adjacency_matrix",
                              "sig_text")
                and not args.attr):
            raise SystemExit(f"{args.kind} agg needs --attr")
        if args.kind in ("filters", "adjacency_matrix"):
            from .index import adjacency_matrix_agg, filters_agg

            if not args.named:
                raise SystemExit(f"{args.kind} agg needs --named")
            types = _attr_types(args.index)
            named = []
            for spec in args.named:
                nm, _, rest = spec.partition(":")
                if not nm or "=" not in rest:
                    raise SystemExit("--named needs NAME:COL=VALUE")
                named.append((nm, _parse_filters([("==", rest)], types)))
            fn = (
                adjacency_matrix_agg
                if args.kind == "adjacency_matrix"
                else filters_agg
            )
            for name, n in fn(spark, args.index, named, query=q):
                print(json.dumps({"name": name, "n_docs": int(n)}))
        elif args.kind == "composite":
            from .index import composite_agg

            if not args.source:
                raise SystemExit("composite agg needs --source")
            sources: list = []
            for s in args.source:
                attr, _, iv = s.partition(":")
                sources.append((attr, float(iv)) if iv else attr)
            after = None
            if args.composite_after is not None:
                attr_t = _attr_types(args.index)

                def coerce(comp: str, src) -> object:
                    a = src if isinstance(src, str) else src[0]
                    if not isinstance(src, str):
                        return float(comp)  # histogram keys are double
                    cls = attr_t.get(a, "string")
                    if cls in ("bigint", "int", "integer", "long"):
                        return int(comp)
                    if cls in ("double", "float"):
                        return float(comp)
                    return comp

                after = tuple(
                    coerce(c, s)
                    for c, s in zip(args.composite_after, sources)
                )
            for key, n in composite_agg(
                spark, args.index, sources, query=q, size=args.size,
                after=after,
            ):
                print(json.dumps({"key": list(key), "n_docs": int(n)}))
        elif args.kind == "histogram":
            if args.interval is None:
                raise SystemExit("histogram agg needs --interval")
            for bucket, n in histogram_agg(
                spark, args.index, args.attr, args.interval, query=q
            ):
                print(json.dumps({"bucket": bucket, "n_docs": int(n)}))
        elif args.kind == "terms":
            if args.sub_hits:
                for value, n, hits in terms_agg(
                    spark, args.index, args.attr, query=q, size=args.size,
                    sub_hits=args.sub_hits,
                ):
                    print(json.dumps({
                        "value": value, "n_docs": int(n),
                        "hits": [
                            {"doc_id": int(d), "score": round(s, 6)}
                            for d, s in hits
                        ],
                    }))
            elif args.sub_stats:
                for value, n, st in terms_agg(
                    spark, args.index, args.attr, query=q, size=args.size,
                    sub_stats=args.sub_stats,
                ):
                    print(json.dumps(
                        {"value": value, "n_docs": int(n), "stats": st}
                    ))
            else:
                for value, n in terms_agg(
                    spark, args.index, args.attr, query=q, size=args.size,
                    order=tuple(args.order) if args.order else None,
                ):
                    print(json.dumps({"value": value, "n_docs": int(n)}))
        elif args.kind == "date_histogram":
            from .index import date_histogram_agg

            if not args.calendar:
                raise SystemExit("date_histogram agg needs --calendar")
            for bucket, n in date_histogram_agg(
                spark, args.index, args.attr, args.calendar, query=q
            ):
                print(json.dumps({"bucket": int(bucket), "n_docs": int(n)}))
        elif args.kind == "sig_text":
            from .index import significant_text_agg

            if not args.query:
                raise SystemExit("sig_text agg needs --query")
            for term, fgc, bgc, sc in significant_text_agg(
                spark, args.index, q, size=args.size,
                sample_per_bucket=args.sample_per_bucket,
            ):
                print(json.dumps({
                    "term": term, "fg": int(fgc), "bg": int(bgc),
                    "score": round(sc, 6),
                }))
        elif args.kind == "sig_terms":
            from .index import significant_terms_agg

            if not args.query:
                raise SystemExit("sig_terms agg needs --query")
            for value, fgc, bgc, sc in significant_terms_agg(
                spark, args.index, args.attr, q, size=args.size
            ):
                print(json.dumps({
                    "value": value, "fg": int(fgc), "bg": int(bgc),
                    "score": round(sc, 6),
                }))
        elif args.kind == "percentiles":
            from .index import percentiles_agg

            if not args.q:
                raise SystemExit("percentiles agg needs --q")
            for qq, v in percentiles_agg(
                spark, args.index, args.attr, args.q, query=q
            ):
                print(json.dumps({
                    "q": qq, "value": None if v is None else round(v, 6),
                }))
        elif args.kind == "cardinality":
            n = cardinality_agg(
                spark, args.index, args.attr, query=q,
                precision=args.precision,
            )
            print(json.dumps({
                "attr": args.attr, "n_distinct": int(n),
                "mode": "hll" if args.precision else "exact",
            }))
        elif args.kind == "range":
            ranges = []
            for r in args.range or ["::"]:
                lo_s, _, hi_s = r.partition(":")
                ranges.append(
                    (float(lo_s) if lo_s else None, float(hi_s) if hi_s else None)
                )
            for lo, hi, n in range_agg(
                spark, args.index, args.attr, ranges, query=q
            ):
                print(json.dumps({"lo": lo, "hi": hi, "n_docs": int(n)}))
        else:
            print(json.dumps(stats_agg(spark, args.index, args.attr, query=q)))
    elif args.cmd == "multi-match":
        from .index import multi_match_search

        hits = multi_match_search(
            spark, args.index, args.query, args.fields.split(","),
            k=args.k, combine=args.combine,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "nested":
        if args.agg:
            from .index import nested_terms_agg

            for value, n in nested_terms_agg(
                spark, args.index, args.agg, args.query,
                parent_attr=args.parent_attr, level=args.agg_level,
                size=args.size, phrase=args.phrase,
            ):
                print(json.dumps({"value": value, "n_docs": int(n)}))
        else:
            from .index import nested_search

            hits = nested_search(
                spark, args.index, args.query, args.parent_attr, k=args.k,
                score_mode=args.score_mode, phrase=args.phrase,
                inner_hits=args.inner_hits,
            )
            for rank, h in enumerate(hits, 1):
                row = {"rank": rank, "parent": h[0], "score": round(h[1], 6)}
                if len(h) > 2:
                    row["inner_hits"] = [
                        {"doc_id": int(d), "score": round(s_, 6)}
                        for d, s_ in h[2]
                    ]
                print(json.dumps(row))
    elif args.cmd == "mlt":
        from .index import mlt_search

        hits = mlt_search(
            spark, args.index, like=args.like, like_id=args.like_id,
            field=args.field, k=args.k, unlike=args.unlike,
            max_query_terms=args.max_query_terms,
            min_term_freq=args.min_term_freq,
            min_doc_freq=args.min_doc_freq,
            minimum_should_match=args.msm,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "fuzzy":
        from .index import fuzzy_search

        hits = fuzzy_search(
            spark, args.index, args.query, k=args.k, max_edits=args.max_edits,
            prefix_length=args.prefix_length, max_expansions=args.max_expansions,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "highlight":
        from .index import highlight_docs, search

        hits = search(spark, args.index, args.query, k=args.k,
                      field=args.field)
        frags = highlight_docs(
            args.index, [d for d, _ in hits], args.query, field=args.field,
            pre=args.pre, post=args.post, fragment_size=args.fragment_size,
            n_fragments=args.n_fragments,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({
                "rank": rank, "doc_id": doc_id, "score": round(score, 6),
                "fragments": frags.get(doc_id, []),
            }))
    elif args.cmd == "regexp":
        from .index import regexp_search

        hits = regexp_search(
            spark, args.index, args.query, k=args.k,
            max_expansions=args.max_expansions,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "rrf":
        from .index import Bool, rrf_search

        pred = _parse_filters(
            [("==", f) for f in args.filter], _attr_types(args.index)
        )
        hits = rrf_search(
            spark, args.index,
            Bool(must=args.query, filter=tuple(pred or ())),
            [float(x) for x in args.vector.split(",") if x.strip()],
            k=args.k, rank_constant=args.rank_constant,
            rank_window=args.window, vector_attr=args.vector_attr,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id,
                              "score": round(score, 6)}))
    elif args.cmd == "knn":
        from .index import knn_search

        pred = _parse_filters(
            [("==", f) for f in args.filter], _attr_types(args.index)
        )
        vec = [float(x) for x in args.vector.split(",") if x.strip()]
        hits = knn_search(
            spark, args.index, vec, k=args.k,
            vector_attr=args.vector_attr, predicate=pred,
            metric=args.metric,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id,
                              "score": round(score, 6)}))
    elif args.cmd == "alias-search":
        from .index import multi_index_search, resolve_alias

        dirs = list(args.index)
        if args.alias:
            dirs = resolve_alias(args.alias) + dirs
        if not dirs:
            raise SystemExit("alias-search needs --alias or --index")
        query: object = args.query
        if args.stats == "global":
            from .index import parse_query_string
            from .index.manifest import IndexManifest

            query = parse_query_string(
                args.query, m=IndexManifest.load(dirs[0]),
                index_dir=dirs[0],
            )
        for rank, (member, doc_id, score) in enumerate(
            multi_index_search(
                spark, dirs, query, k=args.k, stats=args.stats
            ), 1
        ):
            print(json.dumps({
                "rank": rank, "member": member, "index": dirs[member],
                "doc_id": doc_id, "score": round(score, 6),
            }))
    elif args.cmd == "count":
        from .index import Bool, count_matches

        pred = _parse_filters(
            [("==", f) for f in args.filter], _attr_types(args.index)
        )
        n = count_matches(
            spark, args.index,
            Bool(must=args.query or (), filter=tuple(pred or ())),
        )
        print(json.dumps({"count": int(n)}))
    elif args.cmd == "msearch":
        from .index import msearch

        got = msearch(
            spark, args.index,
            [(i, q, args.k) for i, q in enumerate(args.q)],
            default_operator=args.default_operator,
        )
        for qid in sorted(got):
            for rank, (doc_id, score) in enumerate(got[qid], 1):
                print(json.dumps({
                    "qid": qid, "rank": rank, "doc_id": doc_id,
                    "score": round(score, 6),
                }))
    elif args.cmd == "phrase-prefix":
        from .index import match_phrase_prefix_search

        hits = match_phrase_prefix_search(
            spark, args.index, args.query, k=args.k, field=args.field,
            max_expansions=args.max_expansions, slop=args.slop,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "qs":
        from .index import query_string_search

        hits = query_string_search(
            spark, args.index, args.query, k=args.k,
            default_field=args.field,
            default_operator=args.default_operator,
            min_should_match=args.min_should_match,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "wildcard":
        from .index import wildcard_search

        hits = wildcard_search(
            spark, args.index, args.query, k=args.k,
            max_expansions=args.max_expansions,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "prefix":
        from .index import prefix_search

        hits = prefix_search(
            spark, args.index, args.query, k=args.k,
            max_expansions=args.max_expansions,
        )
        for rank, (doc_id, score) in enumerate(hits, 1):
            print(json.dumps({"rank": rank, "doc_id": doc_id, "score": round(score, 6)}))
    elif args.cmd == "merge":
        from .index import merge_segments

        m = merge_segments(spark, args.index)
        print(json.dumps({"n_docs": m.n_docs, "segments": [s["id"] for s in m.segments]}))
    elif args.cmd == "compact":
        from .index import compact_tiered

        m = compact_tiered(
            spark, args.index, max_segments=args.max_segments, fan_in=args.fan_in
        )
        print(json.dumps({"n_docs": m.n_docs, "segments": [s["id"] for s in m.segments]}))
    elif args.cmd == "verify":
        from .index.build import verify_sha256

        n = verify_sha256(spark, spark.read.parquet(args.corpus), args.index)
        print(json.dumps({"verified_rows": n}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
