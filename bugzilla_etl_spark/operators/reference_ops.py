"""Reference-lifecycle operators exposed on the driver tables:
schema-inference scan (S11) and the history-replay fold (§2.7) driven
by a synthesized change-event stream.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .fulltext import _gate_index
from .replay import replay_history, versions_asof

EXCLUDED_COLUMNS = ["l_comment"]  # the BUGS_TABLE_COLUMNS exclusion-list analog

#: mid-corpus point-in-time: 2024-01-15T00:00:00Z (events span Jan 2024)
ASOF_TS = 1_705_276_800_000


def s11_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 schema-inference scan: INFORMATION_SCHEMA.COLUMNS minus a
    fixed exclusion list, injected into downstream SQL as a variable
    (get_bugs_table_columns.ktr:152-156 -> ${BUGS_TABLE_COLUMNS}).
    Spark-side: plan-build-time ``df.columns`` introspection."""
    cols = [
        c
        for c in load_table(spark, sf_dir, "lineitem").columns
        if c not in EXCLUDED_COLUMNS
    ]
    out = spark.createDataFrame([(c,) for c in sorted(cols)], "column_name string")
    return out.withColumn(
        "columns_csv", F.lit(",".join(sorted(cols)))  # the ${VARIABLE} payload
    )


ORACLE_S11 = """
WITH cols AS (
  SELECT column_name FROM information_schema.columns
  WHERE table_name = 'lineitem' AND column_name NOT IN ('l_comment')
)
SELECT column_name,
       (SELECT string_agg(column_name, ',' ORDER BY column_name) FROM cols) AS columns_csv
FROM cols ORDER BY column_name
"""


def _events_eav(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("bug_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("modified_ts"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("modified_by"),
        F.col("event_type").alias("field_name"),
        F.round("value", 2).cast("string").alias("field_value"),
        F.lit(None).cast("string").alias("field_value_removed"),
        F.lit(None).cast("long").alias("attach_id"),
        F.lit(9).cast("long").alias("_merge_order"),
    )


def replay_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 history replay over a change-event stream synthesized from
    ``events``: each event is a scalar field change (field = event_type),
    grouped per user, reverse-replayed and re-emitted as SCD2 versions
    with expires_on chaining. The scalar validity-interval slice is
    SQL-checkable; the full nested-state output is exercised in pytest
    (tests/test_replay.py)."""
    versions = replay_history(_events_eav(spark, sf_dir))
    return versions.select(
        F.col("bug_id").alias("user_id"),
        F.col("bug_version_num").alias("version_num"),
        "modified_ts",
        "expires_on",
    ).filter(F.col("user_id") < 200)


ORACLE_REPLAY = """
WITH v AS (
  SELECT DISTINCT user_id, epoch_ms(ts) AS modified_ts FROM events
),
numbered AS (
  SELECT user_id, modified_ts,
         row_number() OVER (PARTITION BY user_id ORDER BY modified_ts) AS version_num
  FROM v
)
SELECT user_id, version_num, modified_ts,
       coalesce(lead(modified_ts) OVER (PARTITION BY user_id ORDER BY modified_ts),
                9999999999000) AS expires_on
FROM numbered WHERE user_id < 200
"""


def replay_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) query over validity intervals: the version
    of each entity active at ASOF_TS — the reference's query-side
    temporal filter ``modified_ts <= T < expires_on``
    (parse_bug_history.js:356-364; sentinel bug_version.json:221-224)."""
    versions = replay_history(_events_eav(spark, sf_dir))
    return versions_asof(versions, ASOF_TS).select(
        F.col("bug_id").alias("user_id"),
        F.col("bug_version_num").alias("version_num"),
        "modified_ts",
        "expires_on",
    ).filter(F.col("user_id") < 200)


ORACLE_ASOF = f"""
WITH v AS (
  SELECT DISTINCT user_id, epoch_ms(ts) AS modified_ts FROM events
),
numbered AS (
  SELECT user_id, modified_ts,
         row_number() OVER (PARTITION BY user_id ORDER BY modified_ts) AS version_num,
         coalesce(lead(modified_ts) OVER (PARTITION BY user_id ORDER BY modified_ts),
                  9999999999000) AS expires_on
  FROM v
)
SELECT user_id, version_num, modified_ts, expires_on
FROM numbered
WHERE user_id < 200 AND modified_ts <= {ASOF_TS} AND expires_on > {ASOF_TS}
"""


def replay_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END_TIME-bounded replay (bugzilla_to_json.ktr:17-21,
    parse_bug_history.js:72-75, bin/rewind.sh): deltas after ASOF_TS are
    ignored, reproducing the exact historical version chain — the last
    surviving version stays open (sentinel expires_on)."""
    versions = replay_history(_events_eav(spark, sf_dir), end_time=ASOF_TS)
    return versions.select(
        F.col("bug_id").alias("user_id"),
        F.col("bug_version_num").alias("version_num"),
        "modified_ts",
        "expires_on",
    ).filter(F.col("user_id") < 200)


ORACLE_BOUNDED = f"""
WITH v AS (
  SELECT DISTINCT user_id, epoch_ms(ts) AS modified_ts FROM events
  WHERE epoch_ms(ts) <= {ASOF_TS}
),
numbered AS (
  SELECT user_id, modified_ts,
         row_number() OVER (PARTITION BY user_id ORDER BY modified_ts) AS version_num,
         coalesce(lead(modified_ts) OVER (PARTITION BY user_id ORDER BY modified_ts),
                  9999999999000) AS expires_on
  FROM v
)
SELECT user_id, version_num, modified_ts, expires_on
FROM numbered WHERE user_id < 200
"""


def alias_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The detect_new_aliases 3-way classification (SURVEY §3.3;
    detect_new_aliases.ktr:565-607 + the FilterRows cascade) over
    driver-table-derived alias lists: 'new' aliases from events, the
    curated 'old' list from customer, classified via the composed
    pipeline (J2 lookup with miss defaults + P7 routing), summarized
    per class."""
    from ..plans.aliases import classify_aliases

    ev = load_table(spark, sf_dir, "events")
    new_aliases = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("alias_count"), F.min("event_id").alias("bug_id"))
        .select(
            F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("alias"),
            F.when(F.col("user_id") % 3 == 0, F.lit("multi"))
            .otherwise(F.lit("single"))
            .alias("alias_type"),
            "alias_count",
            "bug_id",
            F.col("user_id"),
        )
    )
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 120)
    old_aliases = cust.select(
        F.concat(F.lit("u"), F.col("c_custkey").cast("string")).alias("alias"),
        F.when(F.col("c_custkey") % 4 == 1, F.lit("multi"))
        .when(F.col("c_custkey") % 4 == 2, F.lit("curated"))
        .otherwise(F.lit("single"))
        .alias("alias_type"),
        F.col("c_custkey").alias("alias_count"),
        F.col("c_custkey").alias("bug_id"),
    )
    classified = classify_aliases(new_aliases.drop("user_id"), old_aliases)
    return classified.groupBy("alias_class").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("alias_count").alias("sum_count"),
    )


ORACLE_ALIAS_CLASSIFY = """
WITH new_aliases AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS alias,
         CASE WHEN user_id % 3 = 0 THEN 'multi' ELSE 'single' END AS alias_type,
         count(*) AS alias_count
  FROM events GROUP BY user_id
),
old_aliases AS (
  SELECT 'u' || CAST(c_custkey AS VARCHAR) AS alias,
         CASE WHEN c_custkey % 4 = 1 THEN 'multi'
              WHEN c_custkey % 4 = 2 THEN 'curated'
              ELSE 'single' END AS old_type
  FROM customer WHERE c_custkey < 120
),
classified AS (
  SELECT n.alias_count,
         CASE WHEN n.alias_type = coalesce(o.old_type, 'missing') THEN 'existing'
              WHEN n.alias_type = 'multi' AND o.old_type = 'curated' THEN 'curated_multi'
              WHEN n.alias_type = 'multi' AND o.old_type = 'single' THEN 'single_to_multi'
              ELSE 'new' END AS alias_class
  FROM new_aliases n LEFT JOIN old_aliases o USING (alias)
)
SELECT alias_class, count(*) AS n, CAST(sum(alias_count) AS BIGINT) AS sum_count
FROM classified GROUP BY alias_class
"""


def alias_curated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The get_bz_aliases.ktr aggregation composed end-to-end
    (plans/aliases.aggregate_curated_aliases): a curated alias relation
    synthesized from ``customer`` — including 'multi' rows
    (:109-136) and degenerate 'undefined=' / '=undefined' endpoints
    (:137-164,441-468) that the filters must drop — then SUM per alias
    (:165-203). The same function feeds build_alias_map, whose output
    the replay's J5 reconciliation consults (pytest-verified)."""
    from ..plans.aliases import aggregate_curated_aliases

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    curated = cust.select(
        F.when(k % 11 == 0, F.concat(F.lit("undefined=u"), (k % 50).cast("string")))
        .when(k % 13 == 0, F.concat(F.lit("u"), (k % 50).cast("string"), F.lit("=undefined")))
        .otherwise(
            F.concat(
                F.lit("u"), (k % 50).cast("string"), F.lit("@x.com=v"),
                (k % 50).cast("string"), F.lit("@y.com"),
            )
        )
        .alias("alias"),
        F.when(k % 5 == 0, F.lit("multi")).otherwise(F.lit("single")).alias("alias_type"),
        (k % 7).alias("alias_count"),
        k.alias("bug_id"),
    )
    return aggregate_curated_aliases(curated)


ORACLE_ALIAS_AGG = """
WITH curated AS (
  SELECT CASE
           WHEN c_custkey % 11 = 0 THEN 'undefined=u' || CAST(c_custkey % 50 AS VARCHAR)
           WHEN c_custkey % 13 = 0 THEN 'u' || CAST(c_custkey % 50 AS VARCHAR) || '=undefined'
           ELSE 'u' || CAST(c_custkey % 50 AS VARCHAR) || '@x.com=v'
                || CAST(c_custkey % 50 AS VARCHAR) || '@y.com'
         END AS alias,
         CASE WHEN c_custkey % 5 = 0 THEN 'multi' ELSE 'single' END AS alias_type,
         c_custkey % 7 AS alias_count
  FROM customer
)
SELECT alias, CAST(sum(alias_count) AS BIGINT) AS alias_count
FROM curated
WHERE alias_type <> 'multi'
  AND alias NOT LIKE 'undefined=%'
  AND alias NOT LIKE '%=undefined'
GROUP BY alias
"""


def _events_eav_with_attachments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.7 change stream plus ATTACHMENT current-state rows
    (_merge_order=7, the 'Get attachments'/'Get flags' family): each
    user carries one attachment (attach_id = user_id % 5) whose flag is
    'review?(u<id>@x.com)' for user_id % 3 == 0, else
    'feedback+(u<id>@x.com)' — deterministic, so the nested-query oracle
    can recompute membership relationally."""
    base = _events_eav(spark, sf_dir)
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    uid = F.col("user_id")
    att = users.select(
        uid.alias("bug_id"),
        F.lit(0).cast("long").alias("modified_ts"),
        F.concat(F.lit("u"), uid.cast("string")).alias("modified_by"),
        F.lit("flags").alias("field_name"),
        F.when(
            uid % 3 == 0,
            F.concat(F.lit("review?(u"), uid.cast("string"), F.lit("@x.com)")),
        )
        .otherwise(
            F.concat(F.lit("feedback+(u"), uid.cast("string"), F.lit("@x.com)"))
        )
        .alias("field_value"),
        F.lit(None).cast("string").alias("field_value_removed"),
        (uid % 5).cast("long").alias("attach_id"),
        F.lit(7).cast("long").alias("_merge_order"),
    )
    return base.unionByName(att)


#: the ES nested-document schema slice the query filters on
_NESTED_SCHEMA = (
    "attachments array<struct<attach_id:long, flags:array<string>>>"
)


def replay_nested_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested attachment/flag query surface (the ES nested-query analog,
    bug_version.json:133-135,171-173): versions whose nested
    ``attachments[]`` carry a ``review?`` flag — ``from_json`` over the
    emitted document, ``exists()`` over the nested struct array, and the
    matching attachment exploded back out. This is the one reference
    query capability the scalar replay entries don't cover."""
    versions = replay_history(_events_eav_with_attachments(spark, sf_dir))
    parsed = versions.withColumn(
        "atts", F.from_json(F.col("state_json"), _NESTED_SCHEMA).getField("attachments")
    )
    has_review = F.exists(
        "atts",
        lambda a: F.exists(a.getField("flags"), lambda fl: fl.startswith("review?")),
    )
    hit = parsed.filter(has_review & (F.col("bug_id") < 200))
    matched = F.filter(
        "atts",
        lambda a: F.exists(a.getField("flags"), lambda fl: fl.startswith("review?")),
    )
    return hit.select(
        F.col("bug_id").alias("user_id"),
        F.col("bug_version_num").alias("version_num"),
        "modified_ts",
        F.element_at(matched, 1).getField("attach_id").alias("attach_id"),
        F.element_at(F.element_at(matched, 1).getField("flags"), 1).alias("flag"),
    )


ORACLE_NESTED = """
WITH v AS (
  SELECT DISTINCT user_id, epoch_ms(ts) AS modified_ts FROM events
),
numbered AS (
  SELECT user_id, modified_ts,
         row_number() OVER (PARTITION BY user_id ORDER BY modified_ts) AS version_num
  FROM v
)
SELECT user_id, version_num, modified_ts,
       CAST(user_id % 5 AS BIGINT) AS attach_id,
       'review?(u' || CAST(user_id AS VARCHAR) || '@x.com)' AS flag
FROM numbered
WHERE user_id < 200 AND user_id % 3 = 0
"""


def _attachments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Child-document corpus of the nested entries (see
    engine_nested_flag_search): two attachment rows per distinct events
    user_id, plus ``parent`` (the bug id), ``grp`` = bug % 7 and ``ord``
    (the attachment ordinal)."""
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    uid = F.col("user_id")

    def attach(ord_: int, kind: str, shift: int) -> DataFrame:
        u = (uid + shift) % 50
        return users.select(
            F.lit("bugs").alias("repo"),
            F.concat(uid.cast("string"), F.lit(f"/{ord_}")).alias("path"),
            F.lit("c0").alias("commit"),
            F.lit("en").alias("lang"),
            F.concat(
                F.lit(f"{kind}(u"), u.cast("string"), F.lit("@x.com)")
            ).alias("content"),
            uid.cast("long").alias("parent"),
            (uid % 7).cast("long").alias("grp"),
            F.lit(ord_).cast("long").alias("ord"),
        )

    return attach(0, "review?", 0).unionByName(attach(1, "feedback+", 3))


def engine_nested_flag_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nested-object query at the ENGINE level (VERDICT r4 #3):
    attachments indexed as CHILD documents (one corpus row per
    attachment, parent bug id as an integer doc_attr; child identity =
    xxhash64(repo, "bug/attach" path, commit) — the child-doc shape of
    configuration/es/bug_version.json:133-135,171-173), queried with a
    conjunctive nested search that must match within ONE attachment.

    Each bug carries TWO attachments: attach 0 'review?(uA@x.com)' with
    A = bug%50, attach 1 'feedback+(uB@x.com)' with B = (bug+3)%50.
    Query 'review u7' through the flattened content bag would also
    return the cross-match cohort bug%50 == 4 (u7 in attach 1, review
    in attach 0); the nested engine must return ONLY bug%50 == 7 — the
    oracle pins exactly that set, so a cross-matching engine fails the
    row/hash check. Second query 'feedback u7' pins the complementary
    cohort within attach 1."""
    from ..index import nested_search_many

    with _gate_index(
        spark, _attachments(spark, sf_dir), doc_attrs=["parent"]
    ) as idx:
        res = nested_search_many(
            spark, idx,
            [(0, "review u7", 10**6), (1, "feedback u7", 10**6)],
            "parent", score_mode="none",
        )
    rows = [
        (kind, int(p))
        for q, kind in [(0, "review"), (1, "feedback")]
        for p, _ in res[q]
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["flag_kind", "user_id"])
    )


ORACLE_ENGINE_NESTED = """
SELECT 'review' AS flag_kind, user_id
FROM (SELECT DISTINCT user_id FROM events) WHERE user_id % 50 = 7
UNION ALL
SELECT 'feedback' AS flag_kind, user_id
FROM (SELECT DISTINCT user_id FROM events) WHERE (user_id + 3) % 50 = 7
"""


def engine_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES nested aggregation + reverse_nested at the engine level:
    facets over a nested query's match set. Same child corpus as
    engine_nested_flag_search (two attachments per bug, u-token shifted
    in attach 1 so a flattened index cross-matches) plus two doc_attrs:
    ``grp`` = bug % 7 denormalized onto children (constant per parent)
    and ``ord`` = attachment ordinal.

    parent level (reverse_nested + terms over grp, query 'review u3'):
    distinct bugs per grp among bugs whose attach-0 carries u3 — the
    cross-match cohort must not count. child level (nested terms over
    ord, query 'u3'): matching CHILDREN per ordinal — u3 lives in
    attach 0 of bugs b%50==3 and attach 1 of bugs (b+3)%50==3."""
    from ..index import nested_terms_agg

    with _gate_index(
        spark, _attachments(spark, sf_dir), doc_attrs=["parent", "grp", "ord"]
    ) as idx:
        by_grp = nested_terms_agg(
            spark, idx, "grp", "review u3", parent_attr="parent",
            level="parent", size=10,
        )
        by_ord = nested_terms_agg(spark, idx, "ord", "u3", level="child",
                                  size=10)
    rows = [("parent_grp", int(v), int(n)) for v, n in by_grp]
    rows += [("child_ord", int(v), int(n)) for v, n in by_ord]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["level", "value", "n_docs"])
    )


ORACLE_ENGINE_NESTED_AGG = """
WITH u AS (SELECT DISTINCT user_id FROM events)
SELECT 'parent_grp' AS level, CAST(user_id % 7 AS BIGINT) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM u WHERE user_id % 50 = 3 GROUP BY user_id % 7
UNION ALL
SELECT 'child_ord' AS level, CAST(o.ord AS BIGINT) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM u, (VALUES (0), (1)) o(ord)
WHERE (o.ord = 0 AND user_id % 50 = 3)
   OR (o.ord = 1 AND (user_id + 3) % 50 = 3)
GROUP BY o.ord
"""


def p10_date_reformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 date reformatting surface (parse_bug_history.js:447-473),
    relationally: slash-date render, day render, epoch-ms string — the
    same three shapes the replay UDF normalizes."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return (
        ev.filter(F.col("event_id") < 500)
        .select(
            "event_id",
            F.date_format(ts, "yyyy-MM-dd").alias("day"),
            F.date_format(ts, "yyyy/MM/dd HH:mm:ss").alias("slash_dt"),
            F.unix_millis(ts).cast("string").alias("epoch_ms_str"),
            F.nullif(F.lit(""), F.lit("")).alias("empty_to_null"),
        )
    )


ORACLE_P10 = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d') AS day,
       strftime(ts, '%Y/%m/%d %H:%M:%S') AS slash_dt,
       CAST(epoch_ms(ts) AS VARCHAR) AS epoch_ms_str,
       CAST(NULL AS VARCHAR) AS empty_to_null
FROM events WHERE event_id < 500
"""


#: replay->index gate query: field-name terms + value-cent tokens so
#: scores vary with each version's accumulated state
RIDX_QUERY = "purchase 7 3"
RIDX_K = 10
RIDX_OVERFETCH = 120


def replay_index_asof_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed reference pipeline END-TO-END through the engine
    (VERDICT r3 #2): synthesize the change-event EAV from ``events``
    (integer-cents values — cross-engine-exact strings), run the §2.7
    history replay, index the emitted version documents (doc id =
    bug_id.modified_ts analog, content = state JSON, validity interval
    as doc_attrs), and answer a fulltext query restricted to the
    versions ACTIVE at ASOF_TS via the temporal predicate — the
    reference's production query shape (bugzilla_to_json.ktr:1325-1375
    -> :1094-1277 -> ES query with not_analyzed + range filters).

    The DuckDB oracle reconstructs the same version corpus relationally
    (state = latest value per field at each version ts; content token-
    multiset equals the tokenized state JSON) and recomputes BM25 with
    global stats over ALL versions, ranking only the as-of slice."""
    from ..index import search_many
    from ..plans.replay_index import VERSION_ATTRS, versions_to_corpus

    corpus = versions_to_corpus(replay_history(_events_eav_cents(spark, sf_dir)))
    with _gate_index(spark, corpus, doc_attrs=list(VERSION_ATTRS)) as idx:
        res = search_many(
            spark,
            idx,
            [(0, RIDX_QUERY, RIDX_OVERFETCH)],
            predicate=[
                ("modified_ts", "<=", ASOF_TS),
                ("expires_on", ">", ASOF_TS),
            ],
        )[0]
    # id map back to the oracle's (user_id, modified_ts) key space —
    # ONLY for the result ids (scale-clean: never collect the full
    # version dimension)
    rids = [int(d) for d, _ in res]
    idmap = {
        r["doc_id"]: (int(r["path"]), int(r["commit"]))
        for r in corpus.select(
            F.xxhash64("repo", "path", "commit").alias("doc_id"),
            "path",
            "commit",
        )
        .filter(F.col("doc_id").isin(rids))
        .collect()
    }
    # over-fetch then re-cut in the ORACLE's tie space (round-6 score,
    # then user_id, modified_ts) — the engine tie-breaks by internal
    # xxhash id, the oracle cannot
    rows = sorted(
        ((round(s, 6), *idmap[d]) for d, s in res),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:RIDX_K]
    return spark.createDataFrame(
        pd.DataFrame(
            [(u, t, s) for s, u, t in rows],
            columns=["user_id", "modified_ts", "score"],
        )
    )


def _events_eav_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAV variant for the replay->index gate: values as integer cents
    (FLOOR(value*100), the cross-engine-deterministic string recipe),
    pre-deduplicated per (user, field, ts) with max() so forward-replay
    order within a timestamp cannot matter."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    agg = (
        ev.groupBy(
            "user_id",
            "event_type",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("modified_ts"),
        )
        .agg(F.max(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    )
    # digit-spaced value strings ("1234" -> "1 2 3 4"): per-version token
    # counts then vary with the digits of every field's value, so BM25
    # scores are near-unique — without this, mature states all have
    # dl=10/tf=1 and the ranking is one giant tie class
    digit_spaced = F.trim(
        F.regexp_replace(F.col("cents").cast("string"), "(.)", "$1 ")
    )
    return agg.select(
        F.col("user_id").alias("bug_id"),
        "modified_ts",
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("modified_by"),
        F.col("event_type").alias("field_name"),
        digit_spaced.alias("field_value"),
        F.lit(None).cast("string").alias("field_value_removed"),
        F.lit(None).cast("long").alias("attach_id"),
        F.lit(9).cast("long").alias("_merge_order"),
    )


_RIDX_TERMS = sorted(set(RIDX_QUERY.split()))
_RIDX_IN = ",".join(f"'{t}'" for t in _RIDX_TERMS)

ORACLE_RIDX = f"""
WITH ev AS (
  SELECT user_id, event_type AS f, epoch_ms(ts) AS ets,
         max(CAST(FLOOR(value * 100) AS BIGINT)) AS v
  FROM events WHERE user_id < 200 GROUP BY 1, 2, 3
),
vts AS (SELECT DISTINCT user_id, ets AS vt FROM ev),
versions AS (
  SELECT user_id, vt,
         coalesce(lead(vt) OVER (PARTITION BY user_id ORDER BY vt),
                  9999999999000) AS expires_on
  FROM vts
),
latest AS (
  SELECT user_id, vt, f, v FROM (
    SELECT vs.user_id, vs.vt, e.f, e.v,
           row_number() OVER (
             PARTITION BY vs.user_id, vs.vt, e.f ORDER BY e.ets DESC
           ) AS rn
    FROM versions vs JOIN ev e
      ON e.user_id = vs.user_id AND e.ets <= vs.vt
  ) WHERE rn = 1
),
content AS (
  SELECT user_id, vt,
         string_agg(f || ' ' || array_to_string(regexp_extract_all(CAST(v AS VARCHAR), '[0-9]'), ' '), ' ' ORDER BY f) AS body
  FROM latest GROUP BY 1, 2
),
tok AS (
  SELECT user_id, vt, unnest(regexp_extract_all(lower(body), '[a-z0-9_]+')) AS term
  FROM content
),
tf AS (SELECT user_id, vt, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
dl AS (SELECT user_id, vt, count(*) AS dl FROM tok GROUP BY 1, 2),
stats AS (
  SELECT (SELECT count(*) FROM content) AS n, (SELECT sum(dl) FROM dl) AS sdl
),
dfx AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({_RIDX_IN}) GROUP BY term),
active AS (
  SELECT user_id, vt FROM versions
  WHERE vt <= {ASOF_TS} AND expires_on > {ASOF_TS}
)
SELECT tf.user_id AS user_id, tf.vt AS modified_ts, round(sum(
         ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
         * (tf.tf * (1.2 + 1.0))
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (CAST(stats.sdl AS DOUBLE) / stats.n)))
       ), 6) AS score
FROM tf
JOIN dfx USING (term)
JOIN dl ON dl.user_id = tf.user_id AND dl.vt = tf.vt
JOIN active a ON a.user_id = tf.user_id AND a.vt = tf.vt
CROSS JOIN stats
WHERE tf.term IN ({_RIDX_IN})
GROUP BY tf.user_id, tf.vt
ORDER BY score DESC, tf.user_id, tf.vt
LIMIT {RIDX_K}
"""


QUERIES = {
    "s11_schema_inference": s11_schema_inference,
    "replay_index_asof_search": replay_index_asof_search,
    "replay_versions": replay_versions,
    "replay_asof": replay_asof,
    "replay_bounded": replay_bounded,
    "alias_classify": alias_classify,
    "alias_curated_agg": alias_curated_agg,
    "replay_nested_flags": replay_nested_flags,
    "engine_nested_flag_search": engine_nested_flag_search,
    "engine_nested_agg": engine_nested_agg,
    "p10_date_reformat": p10_date_reformat,
}

ORACLE = {
    "s11_schema_inference": ORACLE_S11,
    "replay_index_asof_search": ORACLE_RIDX,
    "replay_versions": ORACLE_REPLAY,
    "replay_asof": ORACLE_ASOF,
    "replay_bounded": ORACLE_BOUNDED,
    "alias_classify": ORACLE_ALIAS_CLASSIFY,
    "alias_curated_agg": ORACLE_ALIAS_AGG,
    "replay_nested_flags": ORACLE_NESTED,
    "engine_nested_flag_search": ORACLE_ENGINE_NESTED,
    "engine_nested_agg": ORACLE_ENGINE_NESTED_AGG,
    "p10_date_reformat": ORACLE_P10,
}
