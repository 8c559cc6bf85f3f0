"""Driver-contract conformance: every registered query must produce a
result the driver's canonicalizer can hash.

CORRECTNESS_r02 background: the driver canonicalizes results with a raw
pandas ``df.sort_values(list(df.columns))`` over the cells. Array- and
map-typed columns arrive as Python lists / numpy arrays / dicts —
unhashable — and crash the comparison even when the values are right
(r2: p_collection_pack, a10_approx_quantile_sketch). The schema-level
gate here catches that class for *all* queries without paying a full
execution sweep: any top-level Array/Map/Struct output column is a
future driver crash. (``tools/check.py`` additionally replays the
driver's exact sort_values canonicalization on executed results in
every oracle sweep.)
"""

from __future__ import annotations

import pytest

from pyspark.sql.types import ArrayType, MapType, StructType

SF = "/root/testdata/sf0.001"

#: Types whose pandas representation is an unhashable cell.
_NONSCALAR = (ArrayType, MapType, StructType)


def _registered_queries():
    from stock_data_warehouse_spark.plans.registry import query_fns
    return sorted(query_fns().items())


def test_catalog_is_loaded():
    assert len(_registered_queries()) >= 150


@pytest.mark.parametrize("name", [n for n, _ in _registered_queries()])
def test_no_nonscalar_result_columns(spark, name):
    """Build the query's plan and reject any top-level array/map/struct
    output column. Plan construction only — the handful of eager
    queries (sinks/streaming/j13) do execute, which is the price of
    checking their real output schema. One case per registered query,
    in name order, so ``--durations`` shows what each build costs and a
    failure names its query."""
    df = dict(_registered_queries())[name](spark, SF)
    offending = [f.name for f in df.schema.fields
                 if isinstance(f.dataType, _NONSCALAR)]
    assert not offending, (
        "non-scalar result columns would crash the driver's "
        f"canonicalizer (unhashable cells): {offending}")


def test_driver_sort_values_replay(spark):
    """Execute a representative cross-family sample and replay the
    driver's exact canonicalization (``sort_values`` over raw cells) —
    the end-to-end form of the schema gate, on the queries that
    historically carried non-scalar cells plus one per family."""
    sample = [
        "p_collection_pack", "p19_format_datetime_pack",
        "a10_approx_quantile_sketch", "a7_approx_count_distinct",
        "x5_int8_quantize", "x2_neardup_minhash_lsh",
        "flagship_segment_revenue", "w1_row_number_recent_orders",
        "t4_tumbling_hourly", "x1_exact_dedup",
    ]
    fns = dict(_registered_queries())
    missing = [n for n in sample if n not in fns]
    assert not missing, f"sample queries unregistered: {missing}"
    for name in sample:
        pdf = fns[name](spark, SF).toPandas()
        # the driver's _canon: sort by every column over raw cells
        pdf.sort_values(list(pdf.columns))  # must not raise
