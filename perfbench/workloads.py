"""The benchmark's workloads: which registry entries each one runs, and
the etl_10x pipeline.  README.md gives the rationale for each choice."""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.1")

#: Fixed-cost Catalyst planning, job scheduling and small shuffles; no
#: Python workers.
SQL_OPS = [f"tpch_q{i}" for i in range(1, 23)] + [
    "h2o_groupby_highcard",
    "h2o_groupby_manykey",
    "h2o_join_medium_inner",
    "h2o_join_big",
    "nyctaxi_fare_by_passenger",
]

#: One registry entry per LLM-data operator family whose DuckDB oracle
#: runs in seconds at sf0.1 (README.md lists the families left out).
#: Python-worker kernels and driver-side plan build dominate.
CORPUS_OPS = [
    "ext_dedup_exact",
    "ext_dedup_semantic",
    "ext_quality_lm_perplexity",
    "ext_text_quality_langid",
    "ext_text_bm25",
    "ext_sim_topk_ivf",
    "ext_embed_kmeans",
    "ext_sketch_count_min",
    "ext_merge_upsert",
    "ext_pipeline_clean_corpus",
    "ext_multimodal_png_stats",
    "ext_model_score",
]

REGISTRY_WORKLOADS = {"sql_sf0.1": SQL_OPS, "corpus_sf0.1": CORPUS_OPS}
WORKLOADS = [*REGISTRY_WORKLOADS, "etl_10x"]

#: etl_10x replication factor and the tables it reads.
ETL_SCALE = 10
ETL_TABLES = ("orders", "lineitem")
#: write / read-back / upsert rounds per pass: several seconds-long writes
#: are summed, because a single write's time varies too much to compare.
ETL_ROUNDS = 2
#: one row in ETL_UPSERT_MOD is picked for the upsert batch, by a hash of
#: its key and the run's seed that DuckDB evaluates identically.
ETL_UPSERT_MOD = 50

#: The derived table etl_10x writes: a join of lineitem and orders.  The
#: same SQL builds the DuckDB reference, so both sides define it once.
ETL_DERIVE_SQL = """
SELECT l_orderkey * 8 + l_linenumber AS lk,
       l_orderkey, l_partkey, l_suppkey, l_quantity,
       l_extendedprice * (1 - l_discount) AS revenue,
       l_returnflag, o_orderpriority,
       year(o_orderdate) AS o_year, o_custkey
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


#: The derived table as DuckDB builds it next to the fixture, with the
#: columns the read-back and the upsert pick need.
ETL_DERIVED = "derived.parquet"
ETL_DERIVED_SQL = f"""
SELECT lk, revenue, l_quantity, l_returnflag, o_year, o_custkey
FROM ({ETL_DERIVE_SQL})
"""


def upsert_pick(seed: int) -> str:
    """SQL predicate on ``lk`` choosing the seed's upsert batch."""
    return f"(lk + {seed}) * 2654435761 % {ETL_UPSERT_MOD} = 0"


#: Read-back aggregate over a written snapshot, run by Spark on the
#: written files and by DuckDB on the fixture.
ETL_READBACK_SQL = """
SELECT l_returnflag, o_year, count(*) AS n,
       sum(revenue) AS revenue, sum(l_quantity) AS qty,
       count(DISTINCT o_custkey) AS customers
FROM {src}
GROUP BY l_returnflag, o_year
"""
