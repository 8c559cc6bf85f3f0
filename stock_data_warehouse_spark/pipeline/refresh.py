"""EP-2 — the scheduled refresh run (update.yml:4-39 in Spark shape).

One call = one micro-batch refresh: build the snapshot (EP-1 DAG),
publish it idempotently (parquet, only-if-changed — the reference's
commit-if-changed), export the serving artifacts (per-ticker JSON files
+ nested manifest — the reference's ``data/`` layout), and report what
happened. Rerunning with unchanged inputs publishes nothing (OP-T2).

At scale this runs under any scheduler (the reference used a 4×/day
cron); the streaming-source variant with ``Trigger.AvailableNow`` lives
in ``streaming/jobs.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import canonicalize_line, normalize_ticker
from ..plans.registry import query_fns
from ..sources.reference import LAST_UPDATED, _lists_df
from ..sources.sinks import (
    publish_if_changed, write_manifest, write_per_key_json,
)


def lists_relation(spark: SparkSession) -> DataFrame:
    """The exploded ``(list_name, position, ticker)`` relation the
    manifest preserves verbatim (duplicates and order included,
    fetch_data.py:295,318-319) — tickers normalized for file naming."""
    return (_lists_df(spark)
            .select("list_name", "position",
                    normalize_ticker(
                        canonicalize_line(F.col("raw"))).alias("ticker"))
            .filter(F.length("ticker") > 0))


def refresh_warehouse(spark: SparkSession, out_dir: str) -> dict:
    """Run one refresh; returns counters for the run report
    (the reference's success/total tally, fetch_data.py:305-321)."""
    # the reference domain ships as fixtures: the query ignores sf_dir
    snapshot = query_fns()["ref_snapshot_pipeline"](spark, "")
    n_changed = publish_if_changed(spark, snapshot, out_dir, "ticker")

    data_dir = os.path.join(out_dir, "data")
    published = spark.read.parquet(data_dir)
    if n_changed > 0:
        write_per_key_json(published, "ticker",
                           os.path.join(out_dir, "json"))
        write_manifest(lists_relation(spark),
                       os.path.join(out_dir, "_manifest.json"),
                       last_updated=LAST_UPDATED)

    lists = lists_relation(spark)
    n_lists = lists.select("list_name").distinct().count()
    n_tickers = lists.select("ticker").distinct().count()
    n_published = published.count()
    return {
        "lists": n_lists,
        "unique_tickers": n_tickers,
        "published": n_published,
        "changed": n_changed,
        # skip-on-failure census (fetch_data.py:277-279): listed but
        # not published — no data, or no valid price
        "skipped": n_tickers - n_published,
    }
