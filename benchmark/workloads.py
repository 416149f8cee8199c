"""The benchmark's two workloads and their fixed work lists.

``historyload``: one ``plans.pipeline.run`` per pass, overwrite-loading
the ten registry tables plus the reference-shaped ``etl_source``.  Each
table spec declares its bit, small-integer, decimal and date columns
and a target DDL schema, so every transform P1-P8 runs.

``registry_sf0.01``: a fixed list of batch queries from
``plans.queries.QUERIES``, in a fixed order, into the noop sink.  The
list reaches every ``operators.*`` and ``functions.*`` module a batch
query uses (``operators.layout`` is used by no query), the shared
artifacts (MinHash/LSH, kNN graph, k-means, PQ, Bloom, BPE) and the
Python-worker boundary (``mapInPandas``/``applyInPandas``/pandas UDFs).
No query on it writes a target.
"""

from __future__ import annotations

# Queries of registry_sf0.01, in run order.  Grouped by what they reach.
REGISTRY_QUERIES = [
    # relational (TPC-H shapes)
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    # operators.text
    "tfidf_top_terms", "quality_score_documents",
    # operators.dedup
    "dedup_exact_documents", "dedup_simhash",
    # shared MinHash/LSH and connected-component artifacts
    "dedup_survivors_minhash", "cross_split_leakage_pairs",
    # operators.clustering / operators.similarity and their artifacts
    "kmeans_embeddings", "ann_ivf_topk", "pq_adc_topk",
    # operators.graph over the kNN artifact
    "pagerank_knn_graph",
    # Bloom filter and BPE artifacts
    "decontaminate_bloom", "bpe_top_merges",
    # operators.relational / operators.timeseries
    "asof_last_view_before_purchase", "ewma_user_value",
    # operators.sampling / operators.ranking
    "weighted_sample_by_value", "user_spend_percent_rank",
    # operators.transforms / functions.skew / operators.quality
    "row_hash_documents", "salted_sum_by_event_type", "expectations_report",
    # Python workers: functions.pytext, operators.multimodal, applyInPandas
    "consistent_hash_rebalance", "multimodal_features", "grouped_minmax_normalize",
]

# HistoryLoad registry: table -> casts and target DDL.  DDL columns are
# (name, Redshift type[, nullable]) or (name, "numeric", precision,
# scale); the declared scales hold
# every source value exactly.  ``embedding`` has no Redshift type and
# is declared as array<float> directly.
HISTORY_TABLES: dict[str, dict] = {
    "region": {
        "tinyint_cols": ["r_regionkey"],
        "ddl": [("r_regionkey", "smallint"), ("r_name", "character varying")],
    },
    "nation": {
        "tinyint_cols": ["n_nationkey", "n_regionkey"],
        "ddl": [("n_nationkey", "smallint"), ("n_name", "character varying"),
                ("n_regionkey", "smallint")],
    },
    "customer": {
        "tinyint_cols": ["c_nationkey"],
        "decimal_cols": ["c_acctbal"],
        "ddl": [("c_custkey", "bigint"), ("c_name", "character varying"),
                ("c_nationkey", "smallint"), ("c_acctbal", "numeric", 12, 2),
                ("c_mktsegment", "character varying")],
    },
    "supplier": {
        "tinyint_cols": ["s_nationkey"],
        "decimal_cols": ["s_acctbal"],
        "ddl": [("s_suppkey", "bigint"), ("s_name", "character varying"),
                ("s_nationkey", "smallint"), ("s_acctbal", "numeric", 12, 2)],
    },
    "part": {
        "tinyint_cols": ["p_size"],
        "decimal_cols": ["p_retailprice"],
        "ddl": [("p_partkey", "bigint"), ("p_name", "character varying"),
                ("p_brand", "character varying"), ("p_type", "character varying"),
                ("p_size", "smallint"), ("p_retailprice", "numeric", 8, 2)],
    },
    "orders": {
        "decimal_cols": ["o_totalprice"],
        "date_cols": ["o_orderdate"],
        "ddl": [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
                ("o_orderstatus", "character varying"), ("o_totalprice", "numeric", 12, 2),
                ("o_orderdate", "date"), ("o_orderpriority", "character varying")],
    },
    "lineitem": {
        "tinyint_cols": ["l_linenumber"],
        "decimal_cols": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "date_cols": ["l_shipdate"],
        "ddl": [("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
                ("l_linenumber", "smallint"), ("l_quantity", "numeric", 8, 2),
                ("l_extendedprice", "numeric", 12, 2), ("l_discount", "numeric", 4, 2),
                ("l_tax", "numeric", 4, 2), ("l_returnflag", "character varying"),
                ("l_linestatus", "character varying"), ("l_shipdate", "date")],
    },
    "events": {
        "decimal_cols": ["value"],
        "ddl": [("event_id", "bigint"), ("ts", "timestamp without time zone"),
                ("user_id", "bigint"), ("event_type", "character varying"),
                ("value", "numeric", 12, 2), ("props", "character varying")],
    },
    "documents": {
        "ddl": [("doc_id", "bigint"), ("text", "character varying"),
                ("lang", "character varying"), ("source", "character varying"),
                ("n_chars", "integer")],
    },
    "embeddings": {
        "tinyint_cols": ["label"],
        "ddl": [("vec_id", "bigint"), ("embedding", "array<float>"), ("label", "smallint")],
    },
    "etl_source": {
        "bit_cols": ["Is Active"],
        "tinyint_cols": ["tiny-flag"],
        "decimal_cols": ["amount", "price_money"],
        "date_cols": ["Birth - Date"],
        "ddl": [("id", "bigint", False), ("Is Active", "smallint"), ("tiny-flag", "smallint"),
                ("amount", "numeric", 18, 6), ("price_money", "numeric", 19, 4),
                ("ratio", "real"), ("Birth - Date", "date"),
                ("created_at", "timestamp without time zone"),
                ("name", "character varying"), ("guid", "character varying"),
                ("payload", "varbinary")],
    },
}


def target_schema(table: str):
    """The declared target StructType (names standardized) plus the
    reference's four audit fields, built with the program's DDL parser."""
    from pyspark.sql import types as T

    from aws_pandas_etl_spark.functions.types import (
        build_struct_type,
        normalize_column_name,
        with_audit_fields,
    )

    fields = []
    for col in HISTORY_TABLES[table]["ddl"]:
        if col[1] == "array<float>":
            fields.append(T.StructField(normalize_column_name(col[0]),
                                        T.ArrayType(T.FloatType()), True))
        elif col[1] == "numeric":
            name, kind, p, s = col
            fields.extend(build_struct_type([(name, kind, True, p, s)], dialect="redshift").fields)
        else:
            fields.extend(build_struct_type([col], dialect="redshift").fields)
    return with_audit_fields(T.StructType(fields))


def table_spec(table: str):
    from aws_pandas_etl_spark.plans.pipeline import TableSpec

    decl = HISTORY_TABLES[table]
    return TableSpec(
        name=table,
        schema=target_schema(table),
        bit_cols=list(decl.get("bit_cols", [])),
        tinyint_cols=list(decl.get("tinyint_cols", [])),
        decimal_cols=list(decl.get("decimal_cols", [])),
        date_cols=list(decl.get("date_cols", [])),
    )


# The benchmark's own reading of the Redshift DDL types it declares,
# kept apart from the program's parser so the check does not inherit it.
_DDL_TO_SPARK = {
    "smallint": "smallint", "integer": "int", "bigint": "bigint", "real": "float",
    "date": "date", "timestamp without time zone": "timestamp",
    "character varying": "string", "varbinary": "binary", "array<float>": "array<float>",
}


def check_spec(table: str, source_path: str) -> dict:
    """What the DuckDB check needs to know about one table: the source
    parquet's column types and the declared target type of each column."""
    import pyarrow.parquet as pq

    from checks import arrow_types, standardize

    decl = HISTORY_TABLES[table]
    target = {}
    for col in decl["ddl"]:
        name, kind = standardize(col[0]), col[1]
        target[name] = f"decimal({col[2]},{col[3]})" if kind == "numeric" else _DDL_TO_SPARK[kind]
    return {
        "source_types": arrow_types(pq.read_schema(source_path)),
        "target": target,
        "bit_cols": decl.get("bit_cols", []),
        "tinyint_cols": decl.get("tinyint_cols", []),
        "decimal_cols": decl.get("decimal_cols", []),
        "date_cols": decl.get("date_cols", []),
    }
