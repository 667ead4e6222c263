"""Docs-dimension predicates for filtered top-k search.

The reference's ES mapping makes most bug_version fields exact-match
postings (``configuration/es/bug_version.json:57-65`` ``not_analyzed``)
precisely so dashboards can combine structured term filters and temporal
point-in-time ranges (``bug_version.json:221-224``) with the fulltext
score. Here the same capability is expressed against the segment's
*docs dimension* (a columnar parquet table carrying repo/path/commit/
lang + any ``doc_attrs`` columns): each (segment, shard-bucket) scoring
task resolves the predicate into a sorted allowed-doc-id set with one
pyarrow scan — parquet row-group statistics prune on the filter columns
— and the bucket scorers apply the set BEFORE the top-k heap, so results
are exact (never post-filtered over-fetch).

Spec format — a conjunction of simple clauses, plain data so it ships
to workers inside the closure without custom pickling::

    [("lang", "==", "py"), ("modified_ts", "<=", T), ("expires_on", ">", T)]

Ops: ``== != < <= > >= in not_in prefix exists``. ``prefix`` compiles
to a half-open string range (``v <= col < v_next``) so it stays pushable
to parquet statistics instead of a post-scan UDF. ``exists`` (ES exists
query / missing filter) takes True ("has a value") or False ("is
null") and compiles to IS (NOT) NULL — pushable to parquet null
counts.

Scoring semantics match ES filter context: the predicate restricts the
CANDIDATE set only; BM25 statistics (idf, avgdl, N) remain global to
the index, exactly like an ES ``bool: {must: match, filter: term}``.
"""

from __future__ import annotations

#: clause ops understood by every compiler below
OPS = ("==", "!=", "<", "<=", ">", ">=", "in", "not_in", "prefix",
       "exists")

Predicate = list  # list[tuple[col, op, value]]


def validate(pred: Predicate) -> None:
    for clause in pred:
        if len(clause) != 3:
            raise ValueError(f"clause must be (col, op, value): {clause!r}")
        col, op, _ = clause
        if not isinstance(col, str):
            raise ValueError(f"column must be a string: {clause!r}")
        if op not in OPS:
            raise ValueError(f"unknown op {op!r}; expected one of {OPS}")


#: the docs dimension's fixed base columns (DOCS_COLS types)
BASE_COL_TYPES = {
    "doc_id": "bigint",
    "repo": "string",
    "path": "string",
    "commit": "string",
    "lang": "string",
    "doc_len": "bigint",
    "sha256": "string",
    "shard": "int",
}


def _type_class(spark_type: str) -> str:
    t = spark_type.lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if t in ("float", "double") or t.startswith("decimal"):
        return "float"
    if t in ("string", "varchar"):
        return "str"
    if t == "boolean":
        return "bool"
    return "other"


def _lit_ok(col_class: str, v) -> bool:
    if isinstance(v, bool):
        return col_class == "bool"
    if isinstance(v, int):
        return col_class in ("int", "float")
    if isinstance(v, float):
        return col_class == "float" or col_class == "int"
    if isinstance(v, str):
        return col_class == "str"
    return col_class == "other"


def validate_types(pred: Predicate, attr_types: dict[str, str],
                   legacy_attrs: list[str] | None = None) -> None:
    """Reject type-incoherent clauses at query time — the dynamic-
    template discipline of the reference mapping (bug_version.json:40-66
    coerces *_ts -> date and *_days -> integer at the MAPPING layer so a
    query literal of the wrong type errors instead of mis-filtering).
    Without this, pyarrow happily compares a string column against an
    int literal per-row-group and a string-typed ts column range-
    compares LEXICOGRAPHICALLY — silently wrong results, not an error.

    ``attr_types``: doc_attr -> Spark simpleString (from the manifest).
    ``legacy_attrs``: attrs indexed before type recording existed —
    allowed through unchecked. Unknown columns are rejected outright."""
    types = dict(BASE_COL_TYPES)
    types.update(attr_types)
    legacy = set(legacy_attrs or [])
    for col, op, v in pred:
        if col not in types:
            if col in legacy:
                continue
            raise ValueError(
                f"unknown predicate column {col!r}; docs dimension has "
                f"{sorted(types)}"
            )
        cls = _type_class(types[col])
        if op == "prefix":
            if cls != "str":
                raise ValueError(
                    f"prefix predicate needs a string column; {col!r} is "
                    f"{types[col]}"
                )
            if not isinstance(v, str):
                raise ValueError(f"prefix value must be a string: {v!r}")
            continue
        if op == "exists":
            if not isinstance(v, bool):
                raise ValueError(
                    f"exists value must be True (has a value) or False "
                    f"(is null): {v!r}"
                )
            continue
        vals = list(v) if op in ("in", "not_in") else [v]
        for x in vals:
            if not _lit_ok(cls, x):
                raise ValueError(
                    f"predicate literal {x!r} ({type(x).__name__}) is "
                    f"incompatible with column {col!r} of type {types[col]}"
                    + (
                        " — range/equality on a string column with a "
                        "numeric literal would mis-filter, not error"
                        if cls == "str"
                        else ""
                    )
                )


def validate_filter(m, pred: Predicate | None) -> None:
    """The query-time check of a ``predicate`` against index manifest
    ``m``, called by every entry point. None or empty passes (no
    filter). Typed doc_attrs mapping (VERDICT r4 #6): literal/column
    type coherence is checked up front; legacy indexes (no recorded
    types) skip the attr checks but still reject unknown columns."""
    if not pred:
        return
    validate(pred)
    validate_types(
        pred, m.doc_attr_types,
        legacy_attrs=m.doc_attrs if not m.doc_attr_types else None,
    )


def _prefix_upper(v: str) -> str | None:
    """Smallest string greater than every string with prefix ``v``:
    increment the last non-maximal char, dropping maximal tails. None
    means "no upper bound" (the prefix is all U+10FFFF)."""
    for i in range(len(v) - 1, -1, -1):
        c = ord(v[i])
        if c < 0x10FFFF:
            return v[:i] + chr(c + 1)
    return None


def to_arrow(pred: Predicate):
    """Compile to a pyarrow.dataset filter expression (worker-side)."""
    import pyarrow.dataset as ds

    expr = None
    for col, op, v in pred:
        f = ds.field(col)
        if op == "==":
            e = f == v
        elif op == "!=":
            e = f != v
        elif op == "<":
            e = f < v
        elif op == "<=":
            e = f <= v
        elif op == ">":
            e = f > v
        elif op == ">=":
            e = f >= v
        elif op == "in":
            e = f.isin(list(v))
        elif op == "not_in":
            e = ~f.isin(list(v))
        elif op == "prefix":
            up = _prefix_upper(str(v))
            e = f >= v if up is None else (f >= v) & (f < up)
        elif op == "exists":
            e = f.is_valid() if v else f.is_null()
        else:  # pragma: no cover - validate() rejects earlier
            raise ValueError(op)
        expr = e if expr is None else expr & e
    return expr


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(v)


def to_sql(pred: Predicate, qualifier: str = "") -> str:
    """ANSI-SQL WHERE fragment (DuckDB oracle construction)."""
    q = f"{qualifier}." if qualifier else ""
    parts = []
    for col, op, v in pred:
        c = f"{q}{col}"
        if op == "==":
            parts.append(f"{c} = {_sql_lit(v)}")
        elif op == "!=":
            parts.append(f"{c} <> {_sql_lit(v)}")
        elif op in ("<", "<=", ">", ">="):
            parts.append(f"{c} {op} {_sql_lit(v)}")
        elif op == "in":
            parts.append(f"{c} IN ({','.join(_sql_lit(x) for x in v)})")
        elif op == "not_in":
            parts.append(f"{c} NOT IN ({','.join(_sql_lit(x) for x in v)})")
        elif op == "prefix":
            up = _prefix_upper(str(v))
            rng = f"{c} >= {_sql_lit(v)}"
            if up is not None:
                rng += f" AND {c} < {_sql_lit(up)}"
            parts.append(f"({rng})")
        elif op == "exists":
            parts.append(f"{c} IS NOT NULL" if v else f"{c} IS NULL")
        else:  # pragma: no cover
            raise ValueError(op)
    return " AND ".join(parts) if parts else "TRUE"


def to_spark(pred: Predicate):
    """Compile to a Spark Column (compose with DataFrame plans)."""
    from pyspark.sql import functions as F

    expr = None
    for col, op, v in pred:
        c = F.col(col)
        if op == "==":
            e = c == v
        elif op == "!=":
            e = c != v
        elif op == "<":
            e = c < v
        elif op == "<=":
            e = c <= v
        elif op == ">":
            e = c > v
        elif op == ">=":
            e = c >= v
        elif op == "in":
            e = c.isin(list(v))
        elif op == "not_in":
            e = ~c.isin(list(v))
        elif op == "prefix":
            up = _prefix_upper(str(v))
            e = c >= v if up is None else (c >= v) & (c < up)
        elif op == "exists":
            e = c.isNotNull() if v else c.isNull()
        else:  # pragma: no cover
            raise ValueError(op)
        expr = e if expr is None else expr & e
    return expr if expr is not None else None


def to_mask(pred: Predicate, pdf) -> "np.ndarray":
    """Evaluate over a pandas frame -> boolean numpy mask (the
    function_score filter-function path scores an in-memory docs slice,
    where a round-trip through arrow would cost more than the filter).
    SQL null semantics: a null never satisfies a clause (including
    ``!=`` / ``not_in``) except ``exists False``."""
    import numpy as np

    mask = np.ones(len(pdf), dtype=bool)
    for col, op, v in pred:
        s = pdf[col]
        nn = s.notna().to_numpy()
        if op == "==":
            e = (s == v).to_numpy(dtype=bool) & nn
        elif op == "!=":
            e = (s != v).to_numpy(dtype=bool) & nn
        elif op == "<":
            e = (s < v).to_numpy(dtype=bool) & nn
        elif op == "<=":
            e = (s <= v).to_numpy(dtype=bool) & nn
        elif op == ">":
            e = (s > v).to_numpy(dtype=bool) & nn
        elif op == ">=":
            e = (s >= v).to_numpy(dtype=bool) & nn
        elif op == "in":
            e = s.isin(list(v)).to_numpy(dtype=bool)
        elif op == "not_in":
            e = (~s.isin(list(v))).to_numpy(dtype=bool) & nn
        elif op == "prefix":
            e = s.astype("string").str.startswith(str(v)).fillna(False).to_numpy(dtype=bool)
        elif op == "exists":
            e = nn if v else ~nn
        else:  # pragma: no cover - validate() rejects earlier
            raise ValueError(op)
        mask &= e
    return mask
