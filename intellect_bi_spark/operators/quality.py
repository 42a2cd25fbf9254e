"""Data-quality audit operators — charter extension.

The checks every warehouse runs before trusting a drop: referential
integrity (orphan foreign keys) and per-column null rates. Both are
pure relational plans:

- ``fk_integrity_check``: one LEFT-ANTI join per FK edge. Dimension
  sides broadcast; the one big-big edge (lineitem → orders) shuffles on
  the join key exactly once. Anti-join output is counted per edge and
  unioned — at 100 TB each edge is a single scan + hash anti-join, and
  a healthy table costs one pass with near-zero output.
- ``null_rate_profile``: per-column null counts over the fact tables in
  ONE aggregate pass per table (no per-column jobs), unioned into a
  (table, column, n_rows, n_nulls, null_rate) relation.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..catalog import load_tables

# (edge name, child table, child key, parent table, parent key, broadcast)
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey", False),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey", True),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey", True),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey", True),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey", True),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey", True),
)


def fk_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan count per foreign-key edge: child rows whose key has no
    parent (NULL child keys are counted separately — a NULL FK is a
    different defect than a dangling one).

    One pass per edge ("aggregate before you shuffle"): the earlier
    form scanned each child table TWICE per edge — once through a
    left-anti join for the orphan count and once for the null/total
    aggregate (36 scans across the 6 edges).  A left-outer join against the distinct parent keys with a
    hit marker computes all three counts in one conditional aggregate
    over a single child scan: an orphan is a NON-NULL child key whose
    parent marker is null (null keys never match an equi-join, so they
    must be excluded from the orphan test exactly as the anti-join's
    isNotNull pre-filter did).  Identical output values."""
    t = load_tables(spark, sf_dir)
    parts = []
    for name, child, ckey, parent, pkey, bcast in _FK_EDGES:
        par = (
            t[parent]
            .select(F.col(pkey).alias(ckey))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        if bcast:
            par = F.broadcast(par)
        parts.append(
            t[child]
            .join(par, ckey, "left")
            .agg(
                F.lit(name).alias("fk_edge"),
                F.sum(
                    (
                        F.col(ckey).isNotNull() & F.col("_hit").isNull()
                    ).cast("long")
                ).alias("n_orphans"),
                F.sum(F.col(ckey).isNull().cast("long")).alias(
                    "n_null_keys"
                ),
                F.count(F.lit(1)).alias("n_child_rows"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "fk_edge", "n_child_rows", "n_null_keys", "n_orphans"
    ).orderBy("fk_edge")


_PROFILE_TABLES = ("lineitem", "orders", "events", "documents")


def null_rate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(table, column, n_rows, n_nulls, null_rate) for every column of the
    fact tables — one aggregate pass per table (all columns' null counts
    in a single map-side-combined agg), not a job per column."""
    t = load_tables(spark, sf_dir)
    parts = []
    for name in _PROFILE_TABLES:
        df = t[name]
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_z_{c}")
            for c in df.columns
        ]
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{c}', _z_{c}" for c in df.columns)
        parts.append(
            wide.selectExpr(
                f"'{name}' AS table_name",
                f"stack({len(df.columns)}, {stack}) AS (column_name, n_nulls)",
                "_n AS n_rows",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "table_name",
        "column_name",
        "n_rows",
        "n_nulls",
        (F.col("n_nulls").cast("double") / F.col("n_rows")).alias(
            "null_rate"
        ),
    ).orderBy("table_name", "column_name")


ERASE_MOD, ERASE_REM = 97, 13  # the deterministic erasure-request batch


def _erasure_impact_composed(spark, sf_dir):
    """The lazy composed plan + its one-shot pin (plan tests target
    this seam; the public query wraps it in release_after_action)."""
    from ..functions.windows import register_cache

    t = load_tables(spark, sf_dir)
    keys = (
        t["customer"]
        .filter(F.col("c_custkey") % ERASE_MOD == ERASE_REM)
        .select("c_custkey")
    )
    cust_row = keys.agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("c_custkey % 1000000007")).alias("row_binding"),
    )
    orders_hit = (
        t["orders"]
        .join(F.broadcast(keys), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey")
    )
    orders_hit = register_cache(orders_hit)
    orders_row = orders_hit.agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("o_orderkey % 1000000007")).alias("row_binding"),
    )
    li_row = (
        t["lineitem"]
        .join(
            F.broadcast(orders_hit),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .agg(
            F.lit("lineitem").alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr("l_orderkey % 1000000007")).alias("row_binding"),
        )
    )
    out = (
        cust_row.unionByName(orders_row)
        .unionByName(li_row)
        .orderBy("table_name")
    )
    return out, (orders_hit,)


def erasure_impact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact plan: given a batch of customer keys
    to erase (the deterministic ``c_custkey % {ERASE_MOD} == {ERASE_REM}``
    slice standing in for a request list), count the rows each table
    would lose — customers directly, orders via the FK, lineitem via the
    two-hop orders chain — with a key binding per table so the plan names
    exactly the affected rows, not just their count. This is the
    metadata-scale dry-run every compliance delete job emits before it
    rewrites files.

    Scale: the request list is tiny → broadcast semi-joins down the FK
    chain; the affected-orders relation is reused (persisted) for the
    lineitem hop so the chain costs one scan per table.  One-shot pin
    lifecycle: the final action runs here and the pin
    is released immediately instead of waiting for cap eviction."""
    from ..functions.windows import release_after_action

    out, pins = _erasure_impact_composed(spark, sf_dir)
    return release_after_action(out, *pins)


K_ANON = 5  # minimum safe equivalence-class size
L_DIV = 2  # minimum sensitive-value diversity per class
_BAND_SQL = "CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)"  # sensitive band


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before a dataset release: k-anonymity / l-diversity
    over the quasi-identifier pair (nation, market segment) with the
    account-balance band as the sensitive attribute.  One summary row:
    how many equivalence classes exist, how many are smaller than k=5
    (re-identifiable), how many rows they expose, and how many classes
    fail l=2 diversity (attribute-disclosure risk).

    The whole audit is ONE hash aggregate over the QI key followed by a
    driver-size rollup — group count is bounded by the QI domain (not the
    row count), so at 100 TB this is a single map-side-combined pass.
    The band divide is exact IEEE on identical operands in both engines.
    Complements `erasure_impact_plan` (quality.py) on the governance
    side; no reference counterpart — charter extension."""
    cust = load_tables(spark, sf_dir)["customer"]
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.expr(_BAND_SQL).alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.countDistinct("band").alias("n_bands"),
        )
    )
    return classes.agg(
        F.sum("sz").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("sz") < K_ANON, 1).otherwise(0)).alias(
            "n_small_classes"
        ),
        F.sum(F.when(F.col("sz") < K_ANON, F.col("sz")).otherwise(0)).alias(
            "rows_at_risk"
        ),
        F.min("sz").alias("min_class_size"),
        F.max("sz").alias("max_class_size"),
        F.sum(F.when(F.col("n_bands") < L_DIV, 1).otherwise(0)).alias(
            "n_low_diversity"
        ),
        F.sum(
            F.when(F.col("n_bands") < L_DIV, F.col("sz")).otherwise(0)
        ).alias("rows_low_diversity"),
    )


def erasure_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed erasure certification: one query runs the erasure
    impact plan (the dry-run accounting over the customer FK chain),
    then deletes through all three derived stores (BM25 bucket rewrite,
    ANN affected-cell rewrite, sketch affected-day recompute) and serves
    each store post-delete with a deterministic integer binding over
    the served relation.  One output row per unit: 3 ``base:*`` impact
    rows plus one row per store, each carrying (n_deleted, n_affected,
    binding).  ``n_affected`` is the store's erasure blast radius:
    rewritten IVF cells (ann), recomputed days (sketch), distinct terms
    of the erased docs (bm25; DuckDB lacks crc32, so the restatable
    vocabulary count binds here instead of the bucket count).  The
    oracle restates every binding from the survivors alone."""
    from ..functions.text import md5_mod_hash_sql
    from ..functions.windows import release_after_action
    from .retrieval import (
        DOC_DELETE_RES,
        DOC_UPSERT_MOD,
        _base_docs,
        _init_bm25_store,
        _postings_of,
        _toks_of,
        delete_from_bm25_index,
        serve_bm25_v2,
    )
    from .similarity import _emb
    from .sketches import (
        _del_users_pred,
        _events,
        _in_bounds,
        build_sketch_rollup_store,
        delete_users_from_sketch_store,
        serve_sketch_rollup_from_store,
    )
    from .vectorstore import (
        _delete_pred,
        build_index_frozen_full,
        delete_from_index,
        read_index_versioned,
        topk_from_index,
    )

    impact_out, pins = _erasure_impact_composed(spark, sf_dir)
    impact_rows = impact_out.select(
        F.concat(F.lit("base:"), F.col("table_name")).alias("store"),
        F.col("n_rows").cast("bigint").alias("n_deleted"),
        F.lit(0).cast("bigint").alias("n_affected"),
        F.col("row_binding").cast("bigint").alias("binding"),
    )
    with tempfile.TemporaryDirectory(
        prefix="sgraft_erasure_bm25_", ignore_cleanup_errors=True
    ) as tmp_bm, tempfile.TemporaryDirectory(
        prefix="sgraft_erasure_ann_", ignore_cleanup_errors=True
    ) as tmp_ann, tempfile.TemporaryDirectory(
        prefix="sgraft_erasure_sketch_", ignore_cleanup_errors=True
    ) as tmp_sk:
        # The three chains use separate temp stores and base tables, so
        # they run as concurrent driver threads.  Each runs its store's
        # build and delete jobs eagerly and returns its summary row
        # lazily; the union and its one eager action run afterwards.
        def _bm25_chain() -> DataFrame:
            docs = _base_docs(spark, sf_dir)
            ddocs = docs.filter(
                F.col("doc_id") % DOC_UPSERT_MOD == DOC_DELETE_RES
            )
            _init_bm25_store(docs, tmp_bm)
            delete_from_bm25_index(spark, tmp_bm, ddocs)
            bm_tele = ddocs.agg(
                F.count(F.lit(1)).alias("n_deleted"),
            ).crossJoin(
                F.broadcast(
                    _postings_of(_toks_of(ddocs)).agg(
                        F.countDistinct("term").alias("n_affected")
                    )
                )
            )
            return (
                serve_bm25_v2(spark, tmp_bm)
                .agg(
                    F.sum(
                        F.col("doc_id") * 1000003
                        + F.col("n_hit_terms") * 101
                        + F.col("score_q")
                    ).alias("binding")
                )
                .crossJoin(F.broadcast(bm_tele))
                .select(
                    F.lit("bm25").alias("store"),
                    F.col("n_deleted").cast("bigint"),
                    F.col("n_affected").cast("bigint"),
                    F.col("binding").cast("bigint"),
                )
            )

        def _ann_chain() -> DataFrame:
            emb = _emb(spark, sf_dir)
            vdels = emb.filter(_delete_pred()).select("vec_id")
            build_index_frozen_full(spark, sf_dir, tmp_ann)
            cells = delete_from_index(spark, tmp_ann, vdels)
            ann_tele = vdels.agg(F.count(F.lit(1)).alias("n_deleted"))
            return (
                topk_from_index(*read_index_versioned(spark, tmp_ann), emb)
                .agg(
                    F.sum(
                        F.col("vec_id") * 1000003
                        + F.col("label") * 101
                        + F.expr(
                            "CAST(FLOOR(cosine * 1048576.0 + 0.5) AS BIGINT)"
                        )
                    ).alias("binding")
                )
                .crossJoin(F.broadcast(ann_tele))
                .select(
                    F.lit("ann").alias("store"),
                    F.col("n_deleted").cast("bigint"),
                    F.lit(len(cells)).cast("bigint").alias("n_affected"),
                    F.col("binding").cast("bigint"),
                )
            )

        def _sketch_chain() -> DataFrame:
            ev = _events(spark, sf_dir)
            build_sketch_rollup_store(spark, sf_dir, tmp_sk)
            days = delete_users_from_sketch_store(
                spark, tmp_sk, ev, _del_users_pred()
            )
            surv = ev.filter(~_del_users_pred())
            exact = surv.groupBy("event_type").agg(
                F.countDistinct("user_id").alias("exact_users")
            )
            in_bounds = _in_bounds("est", "exact_users").cast("bigint")
            sk_tele = ev.filter(_del_users_pred()).agg(
                F.countDistinct("user_id").alias("n_deleted")
            )
            return (
                serve_sketch_rollup_from_store(spark, tmp_sk)
                .join(exact, "event_type")
                .agg(
                    F.sum(
                        F.expr(md5_mod_hash_sql("event_type")) * 31
                        + F.col("n_events") * 7
                        + in_bounds
                    ).alias("binding")
                )
                .crossJoin(F.broadcast(sk_tele))
                .select(
                    F.lit("sketch").alias("store"),
                    F.col("n_deleted").cast("bigint"),
                    F.lit(len(days)).cast("bigint").alias("n_affected"),
                    F.col("binding").cast("bigint"),
                )
            )

        bm_row, ann_row, sk_row = store._run_staged(
            _bm25_chain, _ann_chain, _sketch_chain
        )
        return release_after_action(
            impact_rows.unionByName(bm_row)
            .unionByName(ann_row)
            .unionByName(sk_row)
            .orderBy("store"),
            *pins,
        )


QUERIES = {
    "fk_integrity_check": fk_integrity_check,
    "null_rate_profile": null_rate_profile,
    "erasure_impact_plan": erasure_impact_plan,
    "erasure_e2e": erasure_e2e,
    "k_anonymity_audit": k_anonymity_audit,
}


def _fk_edge_sql(name, child, ckey, parent, pkey):
    return (
        f"SELECT '{name}' AS fk_edge,"
        f" (SELECT COUNT(*) FROM {child}) AS n_child_rows,"
        f" (SELECT CAST(SUM(CASE WHEN {ckey} IS NULL THEN 1 ELSE 0 END)"
        f" AS BIGINT) FROM {child}) AS n_null_keys,"
        f" (SELECT COUNT(*) FROM {child} c WHERE c.{ckey} IS NOT NULL"
        f" AND NOT EXISTS (SELECT 1 FROM {parent} p"
        f" WHERE p.{pkey} = c.{ckey})) AS n_orphans"
    )


_PROFILE_COLS = {
    "lineitem": (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ),
    "orders": (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
}


def _profile_sql(table, cols):
    return " UNION ALL ".join(
        f"SELECT '{table}' AS table_name, '{c}' AS column_name,"
        f" (SELECT COUNT(*) FROM {table}) AS n_rows,"
        f" (SELECT CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
        f" AS BIGINT) FROM {table}) AS n_nulls,"
        f" (SELECT CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
        f" AS DOUBLE) / COUNT(*) FROM {table}) AS null_rate"
        for c in cols
    )


ORACLES = {
    "fk_integrity_check": (
        " UNION ALL ".join(
            _fk_edge_sql(name, child, ckey, parent, pkey)
            for name, child, ckey, parent, pkey, _ in _FK_EDGES
        )
        + " ORDER BY fk_edge"
    ),
    "null_rate_profile": (
        " UNION ALL ".join(
            _profile_sql(tbl, cols) for tbl, cols in _PROFILE_COLS.items()
        )
        + " ORDER BY table_name, column_name"
    ),
    # the FK chain restated as plain semi-join counts per table
    "erasure_impact_plan": (
        f"WITH k AS (SELECT c_custkey FROM customer"
        f" WHERE c_custkey % {ERASE_MOD} = {ERASE_REM}),"
        " o AS (SELECT o_orderkey FROM orders"
        " WHERE o_custkey IN (SELECT c_custkey FROM k))"
        " SELECT 'customer' AS table_name, COUNT(*) AS n_rows,"
        " CAST(SUM(c_custkey % 1000000007) AS BIGINT) AS row_binding"
        " FROM k"
        " UNION ALL SELECT 'orders', COUNT(*),"
        " CAST(SUM(o_orderkey % 1000000007) AS BIGINT) FROM o"
        " UNION ALL SELECT 'lineitem', COUNT(*),"
        " CAST(SUM(l_orderkey % 1000000007) AS BIGINT) FROM lineitem"
        " WHERE l_orderkey IN (SELECT o_orderkey FROM o)"
        " ORDER BY table_name"
    ),
}

ORACLES["k_anonymity_audit"] = (
    "WITH classes AS (SELECT c_nationkey, c_mktsegment,"
    " COUNT(*) AS sz,"
    f" COUNT(DISTINCT {_BAND_SQL}) AS n_bands"
    " FROM customer GROUP BY c_nationkey, c_mktsegment)"
    " SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,"
    " COUNT(*) AS n_classes,"
    f" CAST(SUM(CASE WHEN sz < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_small_classes,"
    f" CAST(SUM(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END) AS BIGINT)"
    " AS rows_at_risk,"
    " MIN(sz) AS min_class_size, MAX(sz) AS max_class_size,"
    f" CAST(SUM(CASE WHEN n_bands < {L_DIV} THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_low_diversity,"
    f" CAST(SUM(CASE WHEN n_bands < {L_DIV} THEN sz ELSE 0 END) AS BIGINT)"
    " AS rows_low_diversity"
    " FROM classes"
)


def _erasure_e2e_oracle() -> str:
    """Every leg restated survivors-only from first principles: the
    impact chain as semi-join counts, the BM25 binding over a direct
    scoring of the surviving documents, the ANN binding over the
    rebuild-without-docs serving restatement (vectorstore's locked
    delete oracle, nested as a subquery), and the sketch binding over
    exact survivor aggregates with the literal-1 in-bounds flag (the
    self-checking-sketch rule)."""
    from ..functions.text import md5_mod_hash_duck
    from . import vectorstore
    from .retrieval import (
        _SCORE_Q_DUCK,
        _TOKS_DUCK,
        DOC_DELETE_RES,
        DOC_UPSERT_MOD,
        TOP_K,
        _bm25_ctes,
    )
    from .sketches import DEL_USER_MOD, DEL_USER_RES

    ev_bind = md5_mod_hash_duck("event_type")
    survivors = f" WHERE doc_id % {DOC_UPSERT_MOD} != {DOC_DELETE_RES}"
    return (
        f"WITH k AS (SELECT c_custkey FROM customer"
        f" WHERE c_custkey % {ERASE_MOD} = {ERASE_REM}),"
        " o AS (SELECT o_orderkey FROM orders"
        " WHERE o_custkey IN (SELECT c_custkey FROM k)),"
        " imp AS (SELECT 'base:customer' AS store,"
        " COUNT(*) AS n_deleted, CAST(0 AS BIGINT) AS n_affected,"
        " CAST(SUM(c_custkey % 1000000007) AS BIGINT) AS binding FROM k"
        " UNION ALL SELECT 'base:orders', COUNT(*), CAST(0 AS BIGINT),"
        " CAST(SUM(o_orderkey % 1000000007) AS BIGINT) FROM o"
        " UNION ALL SELECT 'base:lineitem', COUNT(*), CAST(0 AS BIGINT),"
        " CAST(SUM(l_orderkey % 1000000007) AS BIGINT) FROM lineitem"
        " WHERE l_orderkey IN (SELECT o_orderkey FROM o)),"
        # BM25: direct scoring of the surviving documents only
        f" {_bm25_ctes(survivors)},"
        f" bmtop AS (SELECT doc_id, n_hit_terms, {_SCORE_Q_DUCK}"
        " AS score_q FROM per"
        f" ORDER BY score_q DESC, doc_id LIMIT {TOP_K}),"
        f" dtok AS ({_TOKS_DUCK}"
        f" WHERE doc_id % {DOC_UPSERT_MOD} = {DOC_DELETE_RES}),"
        " bmrow AS (SELECT 'bm25' AS store,"
        " (SELECT COUNT(*) FROM dtok) AS n_deleted,"
        " (SELECT COUNT(DISTINCT t) FROM"
        " (SELECT unnest(toks) AS t FROM dtok)) AS n_affected,"
        " (SELECT CAST(SUM(doc_id * 1000003 + n_hit_terms * 101"
        " + score_q) AS BIGINT) FROM bmtop) AS binding),"
        # ANN: the locked rebuild-without-docs serving restatement
        " annrow AS (SELECT 'ann' AS store,"
        " CAST(MAX(n_deleted) AS BIGINT) AS n_deleted,"
        " CAST(MAX(n_cells_rewritten) AS BIGINT) AS n_affected,"
        " CAST(SUM(vec_id * 1000003 + label * 101"
        " + CAST(FLOOR(cosine * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT)"
        f" AS binding FROM ({vectorstore.ORACLES['ann_index_delete']})),"
        # sketch: exact survivor aggregates, literal-1 in-bounds flag
        " ebase AS (SELECT * FROM events"
        " WHERE user_id IS NOT NULL AND ts IS NOT NULL),"
        " sk AS (SELECT event_type, COUNT(*) AS n_events FROM ebase"
        f" WHERE user_id % {DEL_USER_MOD} != {DEL_USER_RES}"
        " GROUP BY event_type),"
        " skrow AS (SELECT 'sketch' AS store,"
        " (SELECT COUNT(DISTINCT user_id) FROM ebase"
        f" WHERE user_id % {DEL_USER_MOD} = {DEL_USER_RES})"
        " AS n_deleted,"
        " (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM ebase"
        f" WHERE user_id % {DEL_USER_MOD} = {DEL_USER_RES})"
        " AS n_affected,"
        f" (SELECT CAST(SUM({ev_bind} * 31 + n_events * 7 + 1)"
        " AS BIGINT) FROM sk) AS binding)"
        " SELECT store, n_deleted, n_affected, binding FROM imp"
        " UNION ALL SELECT * FROM bmrow"
        " UNION ALL SELECT * FROM annrow"
        " UNION ALL SELECT * FROM skrow"
        " ORDER BY store"
    )


ORACLES["erasure_e2e"] = _erasure_e2e_oracle()
