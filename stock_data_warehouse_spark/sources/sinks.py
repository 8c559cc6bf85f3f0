"""Sinks + file-source operators — OP-S1/S2/S5/S6/S7/S8, OP-T2
(SURVEY.md §2.1).

The reference's warehouse layer: per-ticker JSON files named
``{ticker}.json`` (fetch_data.py:312-314), a nested manifest document
(fetch_data.py:318-319), and commit-only-if-changed publishing
(update.yml:33-39). Re-expressed Spark-side:

- **Per-key JSON sink** — repartition by key, write each key's record
  from the executor that owns it (``foreachPartition``): exact file
  naming the built-in ``partitionBy`` can't produce, with zero driver
  involvement — each of 1000 executors writes its own keys.
- **Manifest** — the nested ``map<list, array>`` doc is rebuilt from the
  exploded relation with ``collect_list``/``map_from_entries``/
  ``to_json``; only O(lists) metadata ever reaches the driver.
- **Idempotent publish** — change detection is a content-hash anti-join
  (new vs current), so an unchanged refresh writes nothing — the
  reference's empty-git-diff short-circuit as a relational operation.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import half_up_cents, sql_half_up_cents
from ..operators.checkpoint import ckpt
from ..plans.registry import register
from .tables import load_table
from ..tmpdirs import mkdtemp as _mkdtemp


# ---------------------------------------------------------------------------
# OP-S5 — per-key JSON sink (exact {key}.json naming)
# ---------------------------------------------------------------------------

def write_per_key_json(df: DataFrame, key_col: str, out_dir: str) -> None:
    """One ``{key}.json`` file per key (fetch_data.py:312-314 semantics:
    filename = key, ``indent=2``). Repartitioning on the key first means
    each executor writes only its own keys — embarrassingly parallel,
    no driver collect. Assumes one row per key (the snapshot contract)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = df.columns

    def write_partition(rows) -> None:
        for row in rows:
            rec = {c: row[c] for c in cols}
            path = os.path.join(out_dir, f"{rec[key_col]}.json")
            with open(path, "w") as f:
                json.dump(rec, f, indent=2, default=str)

    df.repartition(F.col(key_col)).foreachPartition(write_partition)


# ---------------------------------------------------------------------------
# OP-S6 — nested-manifest sink
# ---------------------------------------------------------------------------

def manifest_doc(lists_df: DataFrame,
                 last_updated: str = "1970-01-01T00:00:00Z") -> str:
    """The manifest JSON ``{"lists": {name: [tickers...]}, "last_updated"}``
    (fetch_data.py:318-319), rebuilt from the exploded relation
    ``(list_name, position, ticker)`` — order- and duplicate-preserving
    via position sort, exactly like the reference's list_map. The only
    driver-side data is the finished document (O(lists) metadata)."""
    nested = (lists_df
              .groupBy("list_name")
              .agg(F.array_sort(F.collect_list(
                  F.struct("position", "ticker"))).alias("entries"))
              .select("list_name",
                      F.transform("entries", lambda e: e["ticker"])
                       .alias("tickers"))
              .agg(F.map_from_entries(F.sort_array(F.collect_list(
                  F.struct("list_name", "tickers")))).alias("lists")))
    doc = nested.select(
        F.to_json(F.struct(
            F.col("lists"),
            F.lit(last_updated).alias("last_updated"))).alias("doc"))
    return doc.collect()[0]["doc"]


def write_manifest(lists_df: DataFrame, path: str,
                   last_updated: str = "1970-01-01T00:00:00Z") -> None:
    with open(path, "w") as f:
        f.write(manifest_doc(lists_df, last_updated))


# ---------------------------------------------------------------------------
# OP-S8 / OP-T2 — idempotent, change-detecting publish
# ---------------------------------------------------------------------------

def _content_hash(df: DataFrame) -> DataFrame:
    """Row content hash over all columns (deterministic JSON form)."""
    return df.withColumn(
        "_hash", F.sha2(F.to_json(F.struct(*sorted(df.columns))), 256))


def swap_in(staging: str, table_path: str) -> None:
    """Swap ``staging`` into ``table_path`` via paired renames — the
    ``compact_table`` idiom: retire the current table aside, rename
    staging into place, then delete the retired copy. The table path is
    only ever one rename away from existing; a crash mid-swap leaves the
    data recoverable at either ``table_path`` or ``table_path + '.old'``
    — never a window with the table deleted and the rewrite stranded in
    staging. (Same substrate caveat as compact_table: assumes atomic
    directory rename — local FS/HDFS, not object stores, where this
    becomes a manifest commit.)"""
    import shutil

    retired = table_path.rstrip("/") + ".old"
    if os.path.exists(retired):
        shutil.rmtree(retired)
    if os.path.exists(table_path):
        os.rename(table_path, retired)
    os.rename(staging, table_path)
    if os.path.exists(retired):
        shutil.rmtree(retired)


def publish_if_changed(spark: SparkSession, new_df: DataFrame,
                       target_dir: str, key_col: str) -> int:
    """Publish ``new_df`` to ``target_dir`` only if its content differs
    from what is already there; returns the number of changed/new keys
    (0 = published nothing — update.yml:33-39's empty-diff skip).

    Change detection = content-hash anti-join of new vs current: only
    32-byte hashes shuffle, never the payload. The write itself is a
    full-snapshot rewrite swapped in via :func:`swap_in` paired renames
    (never a window with the table deleted — VERDICT r6 item 1), the
    overwrite-partition idiom sized for a snapshot table; at 100 TB with
    per-key partitioning this becomes dynamic partition overwrite of
    only the changed keys.
    """
    new_hashed = _content_hash(new_df)
    data_path = os.path.join(target_dir, "data")
    if os.path.exists(data_path):
        current = _content_hash(spark.read.parquet(data_path))
        changed = new_hashed.join(
            current.select("_hash"), "_hash", "left_anti")
        n_changed = changed.count()
    else:
        n_changed = new_hashed.count()
    if n_changed > 0:
        tmp = data_path + ".staging"
        new_df.write.mode("overwrite").parquet(tmp)
        swap_in(tmp, data_path)
    return n_changed


# ---------------------------------------------------------------------------
# OP-S7 — bootstrap/default source
# ---------------------------------------------------------------------------

def bootstrap(df: DataFrame, seed_rows: list[Row],
              schema: T.StructType) -> DataFrame:
    """If the source relation is empty, seed it with defaults
    (fetch_data.py:285-288: missing lists dir → write sample.txt)."""
    if df.isEmpty():
        return df.sparkSession.createDataFrame(seed_rows, schema)
    return df


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------

@register(
    "s1_text_list_scan",
    oracle="""
    SELECT r.r_name AS list_name, upper(n.n_name) AS ticker
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def s1_text_list_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S1 — text-list scan (fetch_data.py:285-297): glob a directory
    of ``{list}.txt`` files, one entry per line, strip/upper/drop-blank,
    keyed by file basename via ``input_file_name()``.

    The list files are staged from the nation/region dims (messy on
    purpose: lowercase, padded, blank lines) so the oracle can state the
    expected relation straight from the parquet — the file round-trip is
    the operator under test. Staging collects only the 25-row bounded
    dim (metadata-scale, like the reference's 308-line lists).
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rows = (nation.join(region,
                        nation.n_regionkey == region.r_regionkey)
                  .select("r_name", "n_name").collect())
    stage = _mkdtemp(prefix="lists_")
    by_list: dict[str, list[str]] = {}
    for r in rows:
        by_list.setdefault(r["r_name"], []).append(r["n_name"])
    for list_name, names in by_list.items():
        with open(os.path.join(stage, f"{list_name}.txt"), "w") as f:
            for n in sorted(names):
                f.write(f"  {n.lower()} \n\n")

    raw = spark.read.text(f"{stage}/*.txt")
    return (raw
            .withColumn("list_name", F.url_decode(F.regexp_extract(
                F.input_file_name(), r"([^/]+)\.txt$", 1)))
            .select("list_name",
                    F.upper(F.trim(F.col("value"))).alias("ticker"))
            .filter(F.length("ticker") > 0))


@register(
    "s2_json_record_scan",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def s2_json_record_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S2 — JSON record scan with an explicit schema (the consumption
    path of the reference's ``data/*.json`` warehouse): rows round-trip
    through a JSON export and are read back typed — never
    schema-inferred, so the scan is one pass and the types are stable.
    """
    c = load_table(spark, sf_dir, "customer")
    stage = _mkdtemp(prefix="json_scan_")
    c.write.mode("overwrite").json(f"{stage}/customer")
    schema = T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ])
    return spark.read.schema(schema).json(f"{stage}/customer")


@register(
    "s7_bootstrap_default",
    oracle="""
    SELECT * FROM (VALUES ('sample', 0, 'AAPL'), ('sample', 1, 'BRK-B'))
      AS t(list_name, position, ticker)
    """,
)
def s7_bootstrap_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S7 — bootstrap/default source: an empty source relation is
    seeded with the reference's sample list (fetch_data.py:285-288,
    ``AAPL`` + ``BRK.B`` — stored normalized, fetch_data.py:130)."""
    schema = T.StructType([
        T.StructField("list_name", T.StringType(), False),
        T.StructField("position", T.IntegerType(), False),
        T.StructField("ticker", T.StringType(), False),
    ])
    empty = spark.createDataFrame([], schema)
    return bootstrap(
        empty,
        [Row(list_name="sample", position=0, ticker="AAPL"),
         Row(list_name="sample", position=1, ticker="BRK-B")],
        schema)


@register(
    "s8_publish_if_changed",
    oracle="""
    SELECT (SELECT COUNT(*) FROM customer) AS first_run_changed,
           CAST(0 AS BIGINT) AS second_run_changed
    """,
)
def s8_publish_if_changed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S8/OP-T2 — idempotent publish: the first publish writes every
    key; an identical second publish detects zero changes through the
    content-hash anti-join and writes nothing (update.yml:33-39's
    commit-if-changed as a deterministic, testable relation)."""
    c = load_table(spark, sf_dir, "customer")
    target = _mkdtemp(prefix="publish_")
    first = publish_if_changed(spark, c, target, "c_custkey")
    second = publish_if_changed(spark, c, target, "c_custkey")
    return spark.createDataFrame(
        [Row(first_run_changed=first, second_run_changed=second)],
        T.StructType([
            T.StructField("first_run_changed", T.LongType(), False),
            T.StructField("second_run_changed", T.LongType(), False),
        ]))


@register(
    "s5_per_key_json_sink",
    oracle="""
    SELECT n_name || '.json' AS file_name FROM nation
    """,
)
def s5_per_key_json_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S5 — per-key JSON sink exercised end-to-end: write one
    ``{n_name}.json`` per nation (25 bounded keys), then list what
    landed on disk — the oracle states the exact expected filenames, so
    the filesystem side-effect itself is what's checked. The write path
    is executor-side foreachPartition — the driver never sees the
    records."""
    n = load_table(spark, sf_dir, "nation")
    out = _mkdtemp(prefix="perkey_json_")
    write_per_key_json(n, "n_name", out)
    files = sorted(os.listdir(out))
    return spark.createDataFrame(
        [Row(file_name=f) for f in files],
        T.StructType([T.StructField("file_name", T.StringType(), False)]))


@register(
    "s6_manifest_roundtrip",
    oracle="""
    SELECT r.r_name AS list_name,
           CAST(ROW_NUMBER() OVER (PARTITION BY r.r_name
                                   ORDER BY n.n_name) - 1 AS INT)
             AS position,
           n.n_name AS ticker
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def s6_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S6 — nested-manifest sink round-trip: build the exploded lists
    relation, serialize it to the nested manifest JSON document
    (map<list, array> — fetch_data.py:318-319), parse the document back,
    and re-explode. Round-trip == identity proves the nested rebuild is
    lossless and order-preserving (the SURVEY §5.4 property test)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    w_pos = (F.row_number().over(
        Window.partitionBy("list_name").orderBy("ticker")) - 1)
    lists = (nation.join(region,
                         nation.n_regionkey == region.r_regionkey)
                   .select(F.col("r_name").alias("list_name"),
                           F.col("n_name").alias("ticker"))
                   .withColumn("position", w_pos.cast("int")))

    doc = manifest_doc(lists)

    parsed_schema = T.StructType([
        T.StructField("lists", T.MapType(
            T.StringType(), T.ArrayType(T.StringType()))),
        T.StructField("last_updated", T.StringType()),
    ])
    doc_df = spark.createDataFrame([Row(doc=doc)])
    return (doc_df
            .select(F.from_json("doc", parsed_schema).alias("m"))
            .select(F.explode("m.lists").alias("list_name", "tickers"))
            .select("list_name",
                    F.posexplode("tickers").alias("position", "ticker")))


def write_sharded_jsonl(df: DataFrame, shard_col: str,
                        out_dir: str) -> None:
    """Training-data export: one JSONL file per shard, named
    ``shard-<id>.jsonl``. ``repartition(shard_col)`` routes each shard's
    rows to one task; each task streams its rows to its own file —
    executor-side, no driver collect. Shard ids must be deterministic
    (hash of a stable key, never a partition index) so re-exports of the
    same snapshot produce identical shards."""
    import json
    import os

    os.makedirs(out_dir, exist_ok=True)
    n = df.select(shard_col).distinct().count()

    def write_partition(rows) -> None:
        handles = {}
        try:
            for row in rows:
                d = row.asDict()
                shard = d.pop("__shard")
                if shard not in handles:
                    handles[shard] = open(
                        os.path.join(out_dir,
                                     f"shard-{shard}.jsonl"), "w")
                handles[shard].write(
                    json.dumps(d, sort_keys=True, default=str) + "\n")
        finally:
            for h in handles.values():
                h.close()

    (df.withColumnRenamed(shard_col, "__shard")
       .repartition(max(n, 1), "__shard")
       .foreachPartition(write_partition))


@register(
    "s9_sharded_export",
    oracle="""
    WITH mix AS (
      SELECT doc_id, lang, source, text,
             ascii(substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                          1, 1)) % 8 AS shard
      FROM documents
      WHERE substr(md5('u:' || CAST(doc_id AS VARCHAR)), 1, 6)
            < '400000'
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT) AS n_chars
    FROM mix GROUP BY shard
    """,
)
def s9_sharded_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S5 (training-export form) — the end of the x7 pipeline: take
    the deterministic 25% sample, assign each doc a stable shard
    (ascii of the first md5 hex char mod 8 — portable integer from a
    hash without engine-specific hex casts), write one JSONL file per
    shard via ``foreachPartition``, and return the per-shard manifest
    the downstream loader consumes. The manifest (not the side effect)
    is what the oracle replays — shard membership is a pure function of
    doc_id, so counts and byte totals are engine-exact."""
    from ..operators.minhash import _UNIFORM_TH, hash_coin

    d = load_table(spark, sf_dir, "documents")
    shard = (F.ascii(F.substring(
        F.md5(F.concat(F.lit("shard:"),
                       F.col("doc_id").cast("string"))), 1, 1)) % 8)
    mix = (d.filter(hash_coin(F.col("doc_id"), "u") < _UNIFORM_TH)
            .select("doc_id", "lang", "source", "text",
                    shard.alias("shard")))
    out_dir = _mkdtemp(prefix="export_")
    write_sharded_jsonl(mix, "shard", out_dir)
    return (mix.groupBy("shard")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.length("text")).alias("n_chars")))


# ---------------------------------------------------------------------------
# OP-S10 — versioned publish (read-as-of + version diff)
# ---------------------------------------------------------------------------

def publish_versioned(spark: SparkSession, df: DataFrame,
                      target_dir: str) -> tuple[int, bool]:
    """Append-only versioned publish: each *changed* snapshot lands as a
    new hive-style partition ``{target}/v={N}``; an unchanged publish is
    a no-op (returns the current version) — the Spark form of the
    reference's git history, where every data change is one commit and
    identical refreshes produce no commit (update.yml:33-39).

    The layout IS the time-travel API: ``spark.read.parquet(target)``
    exposes a ``v`` partition column, so read-as-of is a partition-
    pruned filter and a cross-version diff is a self-join of two pruned
    scans. Change detection compares content hashes in BOTH directions
    (adds/updates AND deletes), moving 32-byte hashes only. Writes are
    atomic: stage to a dot-dir (ignored by partition discovery), rename
    into place.

    **Substrate caveat (ADVICE r2)**: the stage-then-rename swap is the
    *local/HDFS filesystem* form — it relies on directory rename being
    atomic and O(1). On object stores (S3/GCS — the realistic 100 TB
    substrate) rename is a non-atomic copy+delete, so the crash-safety
    window claimed here does not hold; the scale form of this publish
    is a manifest/commit protocol (Delta/Iceberg-style log, or an
    S3A-committer-style two-phase commit) with the same version
    semantics. The partition-column time-travel API is unchanged under
    either substrate.

    Returns ``(version, wrote)``.
    """
    import glob
    import shutil

    os.makedirs(target_dir, exist_ok=True)
    versions = sorted(
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(os.path.join(target_dir, "v=*")))
    cur = versions[-1] if versions else 0
    new_hashed = _content_hash(df)
    if cur:
        old_hashed = _content_hash(
            spark.read.parquet(os.path.join(target_dir, f"v={cur}")))
        # Compare hash MULTISETS, not sets: per-hash counts catch a
        # snapshot that differs only in duplicate multiplicity, which
        # a plain bidirectional anti-join would call unchanged.
        new_counts = new_hashed.groupBy("_hash").count()
        old_counts = old_hashed.groupBy("_hash").count()
        n_delta = (
            new_counts.join(old_counts, ["_hash", "count"],
                            "left_anti").count()
            + old_counts.join(new_counts, ["_hash", "count"],
                              "left_anti").count())
        if n_delta == 0:
            return cur, False
    staging = os.path.join(target_dir, f".staging_v{cur + 1}")
    df.write.mode("overwrite").parquet(staging)
    final = os.path.join(target_dir, f"v={cur + 1}")
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(staging, final)
    return cur + 1, True


def read_version(spark: SparkSession, target_dir: str,
                 version: int | None = None) -> DataFrame:
    """Read one published version (default: latest). A filter on the
    ``v`` partition column — only that version's files are scanned."""
    import glob

    if version is None:
        versions = [int(p.rsplit("=", 1)[1])
                    for p in glob.glob(os.path.join(target_dir, "v=*"))]
        if not versions:
            raise FileNotFoundError(
                f"no published versions under {target_dir!r} "
                "(publish_versioned has not run, or wrong path)")
        version = max(versions)
    return (spark.read.parquet(target_dir)
            .filter(F.col("v") == version).drop("v"))


@register(
    "s10_versioned_publish",
    oracle="""
    SELECT CAST(1 AS INT) AS version,
           COUNT(*) AS n_rows, COUNT(*) AS n_changed
    FROM customer
    UNION ALL
    SELECT CAST(2 AS INT),
           COUNT(*),
           (SELECT COUNT(*) FROM customer WHERE c_nationkey = 3)
    FROM customer
    """,
)
def s10_versioned_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S10 — the versioned-publish loop end-to-end: v1 = base
    snapshot; v2 = snapshot with nation-3 balances restated; a third,
    identical publish which must NOT mint a version. The report reads
    the versioned layout back (partition column ``v``) and diffs
    consecutive versions by content-hash anti-join — the oracle states
    the expected row/change counts per version, and the third publish
    being a no-op is checked structurally (the result has exactly two
    version rows)."""
    c = (load_table(spark, sf_dir, "customer")
         .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"))
    c2 = c.withColumn(
        "c_acctbal",
        F.when(F.col("c_nationkey") == 3, F.col("c_acctbal") + 100.0)
         .otherwise(F.col("c_acctbal")))
    target = _mkdtemp(prefix="versioned_")
    publish_versioned(spark, c, target)
    publish_versioned(spark, c2, target)
    publish_versioned(spark, c2, target)  # identical → no new version

    allv = spark.read.parquet(target)
    counts = (allv.groupBy(F.col("v").cast("int").alias("version"))
                  .agg(F.count(F.lit(1)).alias("n_rows")))
    data_cols = sorted(c for c in allv.columns if c != "v")
    hashed = allv.select(
        "v", F.sha2(F.to_json(F.struct(*data_cols)), 256).alias("_hash"))
    prev = hashed.select((F.col("v") + 1).alias("v"), "_hash")
    changed = (hashed.join(prev, ["v", "_hash"], "left_anti")
                     .groupBy(F.col("v").cast("int").alias("version"))
                     .agg(F.count(F.lit(1)).alias("n_changed")))
    return counts.join(changed, "version")


# ---------------------------------------------------------------------------
# OP-S11 — small-files compaction (table maintenance)
# ---------------------------------------------------------------------------

def compact_table(spark: SparkSession, path: str, n_files: int,
                  sort_col: str) -> None:
    """Rewrite a fragmented parquet directory into ``n_files``
    range-partitioned, internally-sorted files and swap them in via
    paired renames (never a window where the table is deleted with the
    rewrite stranded). Range partitioning gives non-overlapping ``sort_col`` intervals
    per file, so a filtered scan prunes to one file by footer min/max
    stats — the OPTIMIZE/clustering maintenance step every long-lived
    100 TB table needs after many incremental publishes.

    **Substrate caveat (ADVICE r2)**: the paired-rename swap assumes
    atomic O(1) directory rename — true on local FS/HDFS, false on
    object stores where rename is copy+delete. At 100 TB on S3/GCS the
    same compaction runs behind a manifest/commit protocol
    (Delta OPTIMIZE / Iceberg rewrite_data_files) instead of path
    swaps; the range-partition + sortWithinPartitions rewrite plan is
    the part that carries over unchanged.
    """
    df = spark.read.parquet(path)
    base = path.rstrip("/")
    staging = base + ".compact_staging"
    (df.repartitionByRange(n_files, F.col(sort_col))
       .sortWithinPartitions(sort_col)
       .write.mode("overwrite").parquet(staging))
    swap_in(staging, base)


@register(
    "s11_compaction_report",
    oracle="""
    SELECT CAST(64 AS BIGINT) AS n_files_before,
           CAST(4 AS BIGINT) AS n_files_after,
           CAST(0 AS BIGINT) AS n_overlapping_ranges,
           (SELECT COUNT(*) FROM customer) AS n_rows
    """,
)
def s11_compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S11 — compaction end-to-end: fragment the customer snapshot
    into 64 round-robin files (every file spans the whole key
    range — the worst case incremental publishes converge to), compact
    to 4 range-partitioned files, and report what the maintenance
    bought: file count 64→4, ZERO overlapping custkey ranges between
    output files (each is footer-prunable), and row-for-row
    preservation. File ranges are measured from the data itself
    (``input_file_name`` + per-file min/max), and the overlap count is
    a self-join of the 4-row range relation — all distributed, no
    footer snooping on the driver."""
    c = load_table(spark, sf_dir, "customer")
    target = os.path.join(_mkdtemp(prefix="compact_"), "t")
    # round-robin: even spread means all 64 partitions are non-empty at
    # every SF (hash-on-key left empty buckets at sf0.001's 150 rows)
    c.repartition(64).write.parquet(target)
    before = (spark.read.parquet(target)
              .select(F.input_file_name().alias("f"))
              .agg(F.countDistinct("f").alias("n")).collect()[0]["n"])
    compact_table(spark, target, 4, "c_custkey")
    after_df = spark.read.parquet(target)
    ranges = (after_df
              .select(F.input_file_name().alias("f"), "c_custkey")
              .groupBy("f")
              .agg(F.min("c_custkey").alias("lo"),
                   F.max("c_custkey").alias("hi")))
    a, b = ranges.alias("a"), ranges.alias("b")
    overlaps = a.join(
        b, (F.col("a.f") < F.col("b.f"))
        & (F.col("a.lo") <= F.col("b.hi"))
        & (F.col("b.lo") <= F.col("a.hi")))
    return (after_df.agg(F.count(F.lit(1)).alias("n_rows"))
            .select(
                F.lit(before).cast("long").alias("n_files_before"),
                F.lit(ranges.count()).cast("long").alias("n_files_after"),
                F.lit(overlaps.count()).cast("long")
                 .alias("n_overlapping_ranges"),
                "n_rows"))


# ---------------------------------------------------------------------------
# OP-S17 — schema-evolution scan (mergeSchema over file generations)
# ---------------------------------------------------------------------------

@register(
    "s17_schema_evolution_scan",
    oracle=f"""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c_custkey < 75 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_v1,
           CAST(SUM({sql_half_up_cents('c_acctbal')}) AS BIGINT)
             AS sum_bal_cents
    FROM (
      SELECT c_custkey, c_acctbal,
             CASE WHEN c_custkey < 75 THEN NULL
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    )
    GROUP BY c_mktsegment
    """,
)
def s17_schema_evolution_scan(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """OP-S17 — schema evolution at the scan: generation-1 files were
    written BEFORE the ``c_mktsegment`` column existed; generation 2
    carries it. ``mergeSchema`` unifies the footers at read time — v1
    rows surface the new column as NULL, no rewrite of old files — and
    the report groups by the evolved column (NULL = the pre-evolution
    cohort), counting how many rows each generation contributed.

    This is the additive-column contract every long-lived warehouse
    table lives by: readers see one schema, old files never rewrite,
    and the oracle replays the generation split with a CASE. The
    footer merge is metadata work on the driver (one footer per file
    at planning, not a data pass); the data-side plan is an ordinary
    pruned scan + hash aggregation."""
    c = load_table(spark, sf_dir, "customer")
    stage = os.path.join(_mkdtemp(prefix="schema_evo_"), "t")
    # generation 1: the column does not exist yet
    (c.filter(F.col("c_custkey") < 75)
      .select("c_custkey", "c_acctbal")
      .coalesce(1).write.mode("overwrite").parquet(f"{stage}/g=1"))
    # generation 2: the evolved schema
    # append-exempt: batch operator writing generation files into a
    # FRESH per-run _mkdtemp staging dir — g=2 doesn't exist before
    # this line, so append == create; no cross-invocation state is
    # keyed on this dir (the durable-state kit's no-append rule
    # governs foreachBatch state, tests/test_stream_durability.py)
    (c.filter(F.col("c_custkey") >= 75)
      .select("c_custkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("append").parquet(f"{stage}/g=2"))
    evolved = (spark.read.option("mergeSchema", "true")
               .option("recursiveFileLookup", "true").parquet(stage))
    return (evolved
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.when(F.col("c_custkey") < 75, 1).otherwise(0))
                  .alias("n_v1"),
                 F.sum(half_up_cents(F.col("c_acctbal")))
                  .alias("sum_bal_cents")))


# ---------------------------------------------------------------------------
# OP-S16 — Z-order (Morton) clustering layout plan
# ---------------------------------------------------------------------------

#: Bits per dimension of the Morton address (8+8 → 16-bit z); file
#: groups are the top 4 z bits → 16 fixed z-ranges.
_Z_BITS = 8
_Z_GROUP_SHIFT = 12


def _sql_morton16(xb: str, yb: str) -> str:
    """DuckDB Morton-interleave of two 8-bit ints (x even bits, y odd)."""
    terms = [f"((({xb} >> {i}) & 1) << {2 * i})" for i in range(_Z_BITS)]
    terms += [f"((({yb} >> {i}) & 1) << {2 * i + 1})"
              for i in range(_Z_BITS)]
    return "(" + " | ".join(terms) + ")"


def _morton16(xb: F.Column, yb: F.Column) -> F.Column:
    """Spark twin of ``_sql_morton16`` — identical bit placement."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z.bitwiseOR(F.shiftleft(
            F.shiftright(xb, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(F.shiftleft(
            F.shiftright(yb, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


@register(
    "s16_zorder_layout",
    oracle=f"""
    WITH stats AS (
      SELECT MAX(o_custkey) AS mc,
             MIN(CAST(o_orderdate AS DATE)) AS d0,
             MAX(CAST(o_orderdate AS DATE)) AS d1
      FROM orders
    ),
    b AS (
      SELECT CAST(FLOOR(o_custkey * 256.0 / (mc + 1)) AS BIGINT) AS xb,
             CAST(FLOOR(date_diff('day', d0, CAST(o_orderdate AS DATE))
                        * 256.0 / (date_diff('day', d0, d1) + 1))
                  AS BIGINT) AS yb
      FROM orders, stats
    )
    SELECT zaddr >> {_Z_GROUP_SHIFT} AS group_id,
           COUNT(*) AS n_rows,
           MIN(xb) AS min_cust_bucket, MAX(xb) AS max_cust_bucket,
           MIN(yb) AS min_day_bucket,  MAX(yb) AS max_day_bucket
    FROM (SELECT xb, yb, {_sql_morton16('xb', 'yb')} AS zaddr FROM b)
    GROUP BY group_id
    """,
)
def s16_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S16 — Z-order clustering layout: the multi-dimensional
    data-skipping trick behind OPTIMIZE ZORDER BY. Each order maps to
    an 8-bit rank bucket per dimension (customer key, order date), the
    buckets interleave into a 16-bit Morton address, and file groups
    are fixed z-ranges (top 4 bits) — so every group covers a small
    RECTANGLE of (customer × date) space and a predicate on EITHER
    dimension prunes most groups from their min/max footers. The
    report emits each group's rectangle; a test asserts the rectangles
    are genuinely tight vs the full grid.

    Everything is integer bit arithmetic on exact doubles (inputs
    ≪ 2^53, mult/div/floor correctly rounded) — class-A deterministic,
    no rounding kernel needed. The dimension min/max are 1-row bounded
    broadcasts. At scale the same z column feeds
    ``repartitionByRange(z)`` + per-partition writes (the s11
    compaction machinery) for equal-SIZE files; the fixed z-range
    grouping here keeps the layout plan itself shuffle-minimal: one
    aggregation, no global sort."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.max("o_custkey").alias("mc"),
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"))
    b = (o.crossJoin(F.broadcast(stats))
          .select(
              F.floor(F.col("o_custkey") * 256.0
                      / (F.col("mc") + 1)).alias("xb"),
              F.floor(F.datediff(F.to_date("o_orderdate"), F.col("d0"))
                      * 256.0
                      / (F.datediff(F.col("d1"), F.col("d0")) + 1))
               .alias("yb")))
    z = b.withColumn("zaddr", _morton16(F.col("xb"), F.col("yb")))
    return (z.groupBy(F.shiftright("zaddr", _Z_GROUP_SHIFT)
                       .alias("group_id"))
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.min("xb").alias("min_cust_bucket"),
                  F.max("xb").alias("max_cust_bucket"),
                  F.min("yb").alias("min_day_bucket"),
                  F.max("yb").alias("max_day_bucket")))


# ---------------------------------------------------------------------------
# OP-E1 — permissive scan: corrupt records quarantined, not fatal
# ---------------------------------------------------------------------------

@register(
    "s18_csv_permissive_scan",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    UNION ALL
    SELECT CAST(-1 AS INT), 'corrupt:2'
    """,
)
def s18_csv_permissive_scan(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """OP-S18 / OP-E1 — the CSV leg of the landing-format surface
    (s1 text, s2/s12 JSON, S3 parquet, s13/s14 custom connector): a
    headered CSV stages every region row plus two malformed lines
    (wrong arity, wrong-typed key). A PERMISSIVE schema-first read
    parses the good rows and quarantines the rest in ``_corrupt`` —
    identical contract to the JSON form, proving the skip-on-failure
    semantics are a property of the SCAN layer, not of one format.
    Delimited text is still the dominant interchange format at rest;
    a 100 TB CSV landing zone reads with per-file task parallelism
    and the same quarantine column."""
    r = load_table(spark, sf_dir, "region")
    stage = _mkdtemp(prefix="csv_permissive_")
    path = os.path.join(stage, "landing.csv")
    rows = r.select("r_regionkey", "r_name").collect()  # 5-row dim
    with open(path, "w") as f:
        f.write("r_regionkey,r_name\n")
        for row in rows:
            f.write(f"{row['r_regionkey']},{row['r_name']}\n")
        f.write("7,EXTRA,FIELD,HERE\n")      # wrong arity
        f.write("not-an-int,BADKEY\n")       # wrong-typed key
    schema = T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    raw = (spark.read.schema(schema)
           .option("header", "true")
           .option("mode", "PERMISSIVE")
           .option("columnNameOfCorruptRecord", "_corrupt")
           .csv(path)
           .transform(ckpt))
    good = (raw.filter(F.col("_corrupt").isNull())
               .select("r_regionkey", "r_name"))
    bad_tally = (raw.filter(F.col("_corrupt").isNotNull())
                    .agg(F.lit(-1).cast("int").alias("r_regionkey"),
                         F.concat(F.lit("corrupt:"),
                                  F.count(F.lit(1)).cast("string"))
                          .alias("r_name")))
    return good.unionAll(bad_tally)


@register(
    "s12_permissive_json_scan",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    UNION ALL
    SELECT CAST(-1 AS INT), 'corrupt:3'
    """,
)
def s12_permissive_json_scan(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """OP-E1 — skip-on-failure at the scan: a JSONL landing file is
    staged with every nation row PLUS three malformed lines (truncated
    JSON, non-JSON garbage, wrong-typed field). A PERMISSIVE read with
    ``columnNameOfCorruptRecord`` parses the good rows and quarantines
    the bad ones as non-null ``_corrupt`` — the reference's per-ticker
    try/except (fetch_data.py:277-279: failures dropped, pipeline
    continues) as a declarative read property instead of control flow.
    The result is the parsed good rows plus one sentinel row carrying
    the quarantine tally, so the oracle checks BOTH that nothing good
    was lost and that exactly the staged corruption was caught."""
    n = load_table(spark, sf_dir, "nation")
    stage = _mkdtemp(prefix="permissive_")
    path = os.path.join(stage, "landing.jsonl")
    rows = n.select("n_nationkey", "n_name").collect()  # 25-row dim
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps({"n_nationkey": r["n_nationkey"],
                                "n_name": r["n_name"]}) + "\n")
        f.write('{"n_nationkey": 99, "n_name": "TRUNC\n')      # cut off
        f.write("not json at all\n")                           # garbage
        f.write('{"n_nationkey": "NaN-ish", "n_name": 7}\n')   # bad types
    schema = T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    raw = (spark.read.schema(schema)
           .option("mode", "PERMISSIVE")
           .option("columnNameOfCorruptRecord", "_corrupt")
           .json(path)
           # Spark disallows queries touching ONLY the corrupt column
           # of a raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
           # materialize the parse once, then both branches query it.
           .transform(ckpt))
    good = (raw.filter(F.col("_corrupt").isNull())
               .select("n_nationkey", "n_name"))
    bad_tally = (raw.filter(F.col("_corrupt").isNotNull())
                 .agg(F.count(F.lit(1)).alias("n"))
                 .select(F.lit(-1).cast("int").alias("n_nationkey"),
                         F.concat(F.lit("corrupt:"), F.col("n"))
                          .alias("n_name")))
    return good.unionByName(bad_tally)


# ---------------------------------------------------------------------------
# OP-S19 — Hive-partitioned layout + partition-pruned scan: the single
# most important file-skipping mechanism at 100 TB, pinned as a verdict
# ---------------------------------------------------------------------------

@register(
    "s19_partition_pruned_scan",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM({sql_half_up_cents('o_totalprice')}) AS BIGINT)
             AS revenue_cents,
           TRUE AS pruned_ok
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def s19_partition_pruned_scan(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """OP-S19 — write the orders table Hive-partitioned by
    ``o_orderpriority`` (`.../o_orderpriority=1-URGENT/part-*.parquet`)
    and read it back with an equality predicate. At 100 TB partition
    pruning is the difference between scanning one directory and
    scanning the warehouse: the predicate must be consumed at PLANNING
    time (``PartitionFilters`` on the scan node, resolved against the
    file index) — not as a post-scan data filter.

    The verdict makes that physical claim falsifiable the j13 way
    (plan introspection IS the measurement): ``pruned_ok`` is read
    from the formatted executed plan and requires the equality to
    appear under ``PartitionFilters`` while the data-filter list
    carries no residual priority predicate — if a refactor (or an
    engine change) demoted pruning to a row filter, the committed
    verdict flips. The data columns (count + class-A integer cents
    sum) are oracle-exact against a plain filtered aggregate of the
    source table, proving the partitioned round-trip lost nothing."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    target = os.path.join(_mkdtemp(prefix="partitioned_"), "t")
    o.write.partitionBy("o_orderpriority").parquet(target)

    scan = (spark.read.parquet(target)
            .filter(F.col("o_orderpriority") == "1-URGENT"))
    cents = half_up_cents(F.col("o_totalprice"))
    agg = (scan.select("o_orderpriority", cents.alias("cents"))
               .groupBy("o_orderpriority")
               .agg(F.count(F.lit(1)).alias("n_orders"),
                    F.sum("cents").alias("revenue_cents")))

    jvm = spark.sparkContext._jvm
    formatted = jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted")
    part_lines = [ln for ln in formatted.splitlines()
                  if "PartitionFilters" in ln]
    data_lines = [ln for ln in formatted.splitlines()
                  if "DataFilters" in ln or "PushedFilters" in ln]
    pruned = (any("1-URGENT" in ln for ln in part_lines)
              and not any("1-URGENT" in ln for ln in data_lines))
    return agg.withColumn("pruned_ok", F.lit(bool(pruned)))


# ---------------------------------------------------------------------------
# OP-S20 — retention vacuum: expire old published versions (the
# maintenance half of the s10 versioned-publish loop)
# ---------------------------------------------------------------------------

def vacuum_versions(spark: SparkSession, target_dir: str,
                    keep_last: int) -> list[int]:
    """Delete all but the newest ``keep_last`` versions under a
    ``publish_versioned`` target and return the removed version
    numbers (oldest first — so a crash mid-vacuum leaves a contiguous
    suffix of history, never a hole between surviving versions).

    Substrate caveat (the s10/s11 note verbatim): directory delete is
    the local-FS/HDFS substrate; on an object store at 100 TB the same
    retention policy runs through the table format's transaction log
    (Delta VACUUM / Iceberg expire_snapshots) so readers pinned to an
    old snapshot fail cleanly instead of seeing missing files — the
    version arithmetic here is the part that carries over."""
    import glob
    import shutil

    versions = sorted(
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(os.path.join(target_dir, "v=*")))
    to_remove = versions[:-keep_last] if keep_last > 0 else versions
    for ver in to_remove:                       # oldest first
        shutil.rmtree(os.path.join(target_dir, f"v={ver}"))
    return to_remove


@register(
    "s20_retention_vacuum",
    oracle="""
    SELECT CAST(3 AS INT) AS version, COUNT(*) AS n_rows,
           CAST(2 AS BIGINT) AS n_versions_removed,
           TRUE AS latest_ok, TRUE AS evicted_gone
    FROM customer
    UNION ALL
    SELECT CAST(4 AS INT), COUNT(*), CAST(2 AS BIGINT), TRUE, TRUE
    FROM customer
    """,
)
def s20_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S20 — the retention policy every versioned table needs:
    publish FOUR successive snapshots (base + three restatements, all
    content-distinct so each mints a version), vacuum to
    ``keep_last=2``, and report the surviving history. Checks, each
    oracle-pinned:

    - exactly versions 3 and 4 survive with full row counts (the
      partitioned read after vacuum sees only surviving directories —
      nothing half-deleted);
    - ``n_versions_removed`` — the vacuum's own return value says it
      removed exactly versions 1 and 2;
    - ``latest_ok`` — ``read_version`` (latest) still serves the
      newest snapshot, row-complete;
    - ``evicted_gone`` — time travel to an evicted version serves
      ZERO rows (the partition filter matches no surviving directory;
      with a partition-dir substrate there is no transaction log to
      fail the read loudly — the table-format note on
      :func:`vacuum_versions`) and the directory itself is gone.
    """
    c = (load_table(spark, sf_dir, "customer")
         .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"))
    target = _mkdtemp(prefix="vacuum_")
    snap = c
    publish_versioned(spark, snap, target)
    for nk in (3, 5, 7):                    # three distinct restatements
        snap = snap.withColumn(
            "c_acctbal",
            F.when(F.col("c_nationkey") == nk,
                   F.col("c_acctbal") + 100.0)
             .otherwise(F.col("c_acctbal")))
        publish_versioned(spark, snap, target)

    removed = vacuum_versions(spark, target, keep_last=2)

    n_latest = read_version(spark, target).count()
    n_base = c.count()
    evicted_gone = (
        read_version(spark, target, version=removed[0]).count() == 0
        and not os.path.exists(
            os.path.join(target, f"v={removed[0]}")))

    surviving = spark.read.parquet(target)
    return (surviving
            .groupBy(F.col("v").cast("int").alias("version"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .withColumn("n_versions_removed",
                        F.lit(len(removed)).cast("long"))
            .withColumn("latest_ok", F.lit(bool(n_latest == n_base)))
            .withColumn("evicted_gone", F.lit(bool(evicted_gone))))


# ---------------------------------------------------------------------------
# OP-J14 — DYNAMIC partition pruning: the join-driven twin of s19's
# static pruning (the second of the two big scan-elision mechanisms)
# ---------------------------------------------------------------------------

@register(
    "j14_dynamic_partition_pruning",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM({sql_half_up_cents('o_totalprice')}) AS BIGINT)
             AS revenue_cents,
           TRUE AS dpp_ok
    FROM orders
    WHERE o_orderpriority = '2-HIGH'
    GROUP BY o_orderpriority
    """,
)
def j14_dynamic_partition_pruning(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """OP-J14 — dynamic partition pruning: the fact table is
    Hive-partitioned on the join key and the predicate lives on the
    DIMENSION side — so no static filter can prune the fact scan at
    parse time. At plan time Spark injects a ``dynamicpruning``
    subquery into the fact scan's partition filters: the dim side is
    evaluated first (reusing the broadcast) and only the surviving
    join keys' directories are read. At 100 TB this is the mechanism
    that turns "join facts to this month's dim slice" into a scan of
    this month's partitions instead of the warehouse — the join-driven
    twin of s19's static ``PartitionFilters`` verdict, and it only
    exists when the dim side carries a real selective Filter node
    (probed while building this query: an unfiltered dim — or a
    literal VALUES dim whose filter constant-folds away — plans a
    plain join with no pruning subquery).

    ``dpp_ok`` reads the formatted executed plan (the j13/s19
    plan-introspection-is-the-measurement pattern) and requires a
    ``dynamicpruning`` expression over the partition column on the
    fact scan; the data columns are oracle-exact against a plain
    filtered aggregate, proving pruning changed the scan, not the
    answer."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    target = os.path.join(_mkdtemp(prefix="dpp_"), "t")
    o.write.partitionBy("o_orderpriority").parquet(target)

    fact = spark.read.parquet(target)
    # the dim MUST be a real scan with a residual filter: a literal
    # VALUES dim constant-folds, leaving no Filter node, and DPP's
    # selective-predicate requirement silently fails (measured — the
    # first build of this query returned dpp_ok = false with a
    # LocalRelation dim and true with this one)
    dim = (load_table(spark, sf_dir, "orders")
           .select(F.col("o_orderpriority").alias("prio")).distinct()
           .filter(F.col("prio").startswith("2")))
    cents = half_up_cents(F.col("o_totalprice"))
    j = (fact.join(dim, fact.o_orderpriority == F.col("prio"))
             .select("o_orderpriority", cents.alias("cents")))
    agg = (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("cents").alias("revenue_cents")))

    jvm = spark.sparkContext._jvm
    formatted = jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted")
    dpp = ("dynamicpruning" in formatted
           and any("o_orderpriority" in ln
                   for ln in formatted.splitlines()
                   if "dynamicpruning" in ln))
    return agg.withColumn("dpp_ok", F.lit(bool(dpp)))


# ---------------------------------------------------------------------------
# OP-S21 — right-to-be-forgotten delete: purge a requested user cohort
# from a published table, tombstone the requests, prove completeness
# ---------------------------------------------------------------------------

def delete_users(spark: SparkSession, table_path: str,
                 requests: DataFrame, key: str = "user_id") -> int:
    """Delete every row whose ``key`` appears in the ``requests``
    relation from the parquet table at ``table_path`` (anti-join +
    atomic staged rewrite), append the request keys to a tombstone log
    next to the table, and return the number of rows removed.

    Scale shape: only the REQUEST KEYS move (a deletion-request table
    is ≪ the warehouse, so AQE broadcasts it into the anti-join); the
    rewrite is the s8 staged-swap idiom (:func:`swap_in` paired
    renames — never a window with the table deleted, VERDICT r6
    item 1) — at 100 TB on a table format
    this becomes a MERGE DELETE / deletion-vector commit, with the
    anti-join shape unchanged. Idempotent by construction: a second
    run's anti-join removes zero rows and rewrites nothing."""
    current = spark.read.parquet(table_path)
    keep = current.join(F.broadcast(requests.select(key).distinct()),
                        key, "left_anti")
    n_before = current.count()
    n_after = keep.count()
    if n_after != n_before:
        staging = table_path + ".delete_staging"
        keep.write.mode("overwrite").parquet(staging)
        swap_in(staging, table_path)
    # append-exempt: audit ledger of a BATCH maintenance operator on
    # a per-run table copy (no retrying stream can re-deliver this
    # write), and tombstoning the same keys twice is semantically
    # idempotent — the ledger is read with distinct(); the delete
    # itself is the overwrite+swap above (idempotence-tested)
    (requests.select(key).distinct()
     .withColumn("tombstoned", F.lit(True))
     .write.mode("append").parquet(table_path + ".tombstones"))
    return n_before - n_after


@register(
    "s21_gdpr_delete",
    oracle="""
    SELECT (SELECT COUNT(*) FROM events) AS n_before,
           (SELECT COUNT(*) FROM events WHERE user_id % 31 = 0)
             AS n_deleted,
           (SELECT COUNT(*) FROM events WHERE user_id % 31 <> 0)
             AS n_after,
           (SELECT COUNT(DISTINCT user_id) FROM events
             WHERE user_id % 31 = 0) AS n_requests,
           TRUE AS all_deleted,
           TRUE AS idempotent,
           TRUE AS tombstones_ok
    """,
)
def s21_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S21 — right-to-be-forgotten: a deletion-request table (the
    deterministic ``user_id % 31 == 0`` cohort) is purged from a
    published copy of the events table via :func:`delete_users`, run
    TWICE. Verdict, each column falsifiable:

    - ``n_before`` / ``n_deleted`` / ``n_after`` / ``n_requests`` —
      exact counts, oracle-pinned;
    - ``all_deleted`` — an anti-probe of the purged table finds ZERO
      cohort rows (completeness is checked against the TABLE, not
      inferred from the delete's return value);
    - ``idempotent`` — the second run removed exactly 0 rows;
    - ``tombstones_ok`` — the tombstone log holds exactly the distinct
      requested keys (the audit-trail half of the contract: you must
      be able to prove WHO was deleted without retaining their data).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    target = os.path.join(_mkdtemp(prefix="gdpr_"), "t")
    ev.write.parquet(target)
    requests = (ev.filter(F.col("user_id") % 31 == 0)
                  .select("user_id").distinct())

    n_before = spark.read.parquet(target).count()
    n_deleted = delete_users(spark, target, requests)
    n_deleted_2nd = delete_users(spark, target, requests)
    after = spark.read.parquet(target)
    n_after = after.count()
    n_left_cohort = after.filter(F.col("user_id") % 31 == 0).count()
    tombs = spark.read.parquet(target + ".tombstones")
    n_requests = requests.count()
    tombs_ok = (tombs.select("user_id").distinct().count() == n_requests
                and tombs.join(requests, "user_id", "left_anti")
                         .count() == 0)
    return (spark.range(1).select(
        F.lit(n_before).alias("n_before"),
        F.lit(n_deleted).alias("n_deleted"),
        F.lit(n_after).alias("n_after"),
        F.lit(n_requests).alias("n_requests"),
        F.lit(bool(n_left_cohort == 0)).alias("all_deleted"),
        F.lit(bool(n_deleted_2nd == 0)).alias("idempotent"),
        F.lit(bool(tombs_ok)).alias("tombstones_ok")))


# ---------------------------------------------------------------------------
# OP-S22 — ORC landing/interchange format round-trip with pushdown pin
# ---------------------------------------------------------------------------

@register(
    "s22_orc_roundtrip",
    oracle=f"""
    SELECT s_nationkey,
           COUNT(*) AS n_suppliers,
           CAST(SUM({sql_half_up_cents('s_acctbal')}) AS BIGINT) AS acct_cents,
           TRUE AS orc_pushdown_ok
    FROM supplier
    WHERE s_acctbal >= 0
    GROUP BY s_nationkey
    """,
)
def s22_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S22 — the ORC leg of the landing-format surface (s1 text,
    s2/s12 JSON, S3 parquet, s18 CSV, s13/s14 custom connector): the
    supplier table is round-tripped through columnar ORC and read back
    FILTERED, proving Spark's second first-class columnar format
    carries the same scan-layer contracts as parquet — schema
    preserved (including DECIMAL-free doubles), predicate pushdown
    reaching the ORC reader, per-stripe parallelism.

    ``orc_pushdown_ok`` pins the contract the format exists for: the
    formatted plan of the filtered read-back must show the
    ``s_acctbal`` predicate in the ORC scan's PushedFilters (stripe
    and row-group level statistics skip at 100 TB — the same class of
    I/O elision as parquet row groups). Values are oracle-exact against
    the parquet original: a lossless round-trip is the claim, so the
    referee never touches the ORC copy."""
    sup = load_table(spark, sf_dir, "supplier")
    stage = _mkdtemp(prefix="orc_roundtrip_")
    path = os.path.join(stage, "supplier_orc")
    (sup.select("s_suppkey", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").orc(path))
    back = spark.read.orc(path).filter(F.col("s_acctbal") >= 0)
    jvm = spark.sparkContext._jvm
    formatted = jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted")
    pushed = any(
        "PushedFilters" in ln and "s_acctbal" in ln
        and "[]" not in ln
        for ln in formatted.splitlines())
    cents = half_up_cents(F.col("s_acctbal"))
    return (back.groupBy("s_nationkey")
                .agg(F.count(F.lit(1)).alias("n_suppliers"),
                     F.sum(cents).alias("acct_cents"))
                .withColumn("orc_pushdown_ok", F.lit(bool(pushed))))


# ---------------------------------------------------------------------------
# OP-S23 — snapshot diff: row-level content-hash delta between versions
# ---------------------------------------------------------------------------

@register(
    "s23_snapshot_diff",
    oracle=f"""
    WITH v1 AS (
      SELECT o_custkey AS ck, COUNT(*) AS n_orders,
             SUM({sql_half_up_cents('o_totalprice')}) AS cents
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
      GROUP BY o_custkey
    ),
    v2 AS (
      SELECT o_custkey AS ck, COUNT(*) AS n_orders,
             SUM({sql_half_up_cents('o_totalprice')}) AS cents
      FROM orders GROUP BY o_custkey
    ),
    d AS (
      SELECT COALESCE(v2.ck, v1.ck) AS ck,
             CASE
               WHEN v1.ck IS NULL THEN 'added'
               WHEN v2.ck IS NULL THEN 'removed'
               WHEN sha256(CAST(v1.n_orders AS VARCHAR) || '|'
                           || CAST(v1.cents AS VARCHAR))
                    = sha256(CAST(v2.n_orders AS VARCHAR) || '|'
                             || CAST(v2.cents AS VARCHAR))
                 THEN 'unchanged'
               ELSE 'changed'
             END AS status,
             COALESCE(v2.cents, 0) - COALESCE(v1.cents, 0)
               AS cents_delta
      FROM v1 FULL OUTER JOIN v2 ON v1.ck = v2.ck
    )
    SELECT status, COUNT(*) AS n_keys,
           CAST(SUM(cents_delta) AS BIGINT) AS cents_delta
    FROM d GROUP BY status
    """,
)
def s23_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-S23 — version-to-version snapshot diff at ROW granularity:
    which keys were added / changed / unchanged (/ removed) between a
    cutoff-date build of a per-customer aggregate and today's build —
    the table-format "time-travel diff" every incremental publish
    pipeline wants before it overwrites (the s8 publish-if-changed
    contract refined from table-level to key-level, and the audit
    view behind t13's MERGE: the diff IS the change set).

    Change detection compares 32-byte sha2 CONTENT HASHES of the
    canonicalized row payload, not column lists — on a 400-column
    table the comparison cost stays constant and the hash can be
    stored per row in the manifest for the next diff (content-
    addressed rows, the s10 substrate). Shape: two aggs over the
    same scan lineage + ONE full-outer join on the key + a bounded
    status agg; integer cents arithmetic end to end."""
    o = load_table(spark, sf_dir, "orders")
    cents = half_up_cents(F.col("o_totalprice"))

    def snap(df):
        return (df.groupBy(F.col("o_custkey").alias("ck"))
                  .agg(F.count(F.lit(1)).alias("n_orders"),
                       F.sum(cents).alias("cents"))
                  .withColumn(
                      "row_hash",
                      F.sha2(F.concat_ws(
                          "|", F.col("n_orders").cast("string"),
                          F.col("cents").cast("string")), 256)))

    cutoff = F.lit("1996-06-01 00:00:00").cast("timestamp")
    v1 = snap(o.filter(F.col("o_orderdate") < cutoff)).alias("v1")
    v2 = snap(o).alias("v2")
    d = (v1.join(v2, F.col("v1.ck") == F.col("v2.ck"), "full_outer")
           .select(
               F.when(F.col("v1.ck").isNull(), "added")
                .when(F.col("v2.ck").isNull(), "removed")
                .when(F.col("v1.row_hash") == F.col("v2.row_hash"),
                      "unchanged")
                .otherwise("changed").alias("status"),
               (F.coalesce(F.col("v2.cents"), F.lit(0))
                - F.coalesce(F.col("v1.cents"), F.lit(0)))
                .alias("cents_delta")))
    return (d.groupBy("status")
             .agg(F.count(F.lit(1)).alias("n_keys"),
                  F.sum("cents_delta").alias("cents_delta")))


# ---------------------------------------------------------------------------
# OP-S24 — dynamic partition overwrite (the surgical backfill)
# ---------------------------------------------------------------------------

@register(
    "s24_dynamic_overwrite",
    oracle=f"""
    WITH final AS (
      SELECT event_type, ts::DATE AS day,
             CASE WHEN ts::DATE = DATE '2024-01-10'
                  THEN {sql_half_up_cents('value')} * 2
                  ELSE {sql_half_up_cents('value')} END AS cents
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           TRUE AS only_target_partition_touched
    FROM final
    GROUP BY event_type
    """,
)
def s24_dynamic_overwrite(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """OP-S24 — DYNAMIC partition overwrite, the surgical backfill:
    a day-partitioned table gets one corrected day rewritten
    (2024-01-10's values doubled — the simulated fix) via
    ``partitionOverwriteMode=dynamic`` INSERT OVERWRITE, which
    replaces ONLY the partitions present in the incoming frame. The
    STATIC default would truncate the whole table first — the classic
    backfill catastrophe this mode exists to prevent; at 100 TB the
    difference is rewriting one day vs rewriting years.

    The non-interference claim is verified by CONTENT, not by trust:
    every untouched partition's row-group content hash (sha2 over its
    sorted event ids + cents) is captured before and after the
    overwrite, and ``only_target_partition_touched`` requires all
    untouched hashes equal AND the target's hash changed. Values:
    the final table must equal the plain batch expectation with the
    one day doubled — oracle-exact end to end."""
    from ..operators.checkpoint import ckpt as _ckpt
    out = _mkdtemp(prefix="s24_dynover_")
    table = os.path.join(out, "events_by_day")
    ev = load_table(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    base = ev.select("event_id", "event_type",
                     F.to_date("ts").alias("day"),
                     cents.alias("cents"))
    (base.write.mode("overwrite").partitionBy("day").parquet(table))

    def part_hashes():
        t = spark.read.parquet(table)
        return {r["day"]: r["h"] for r in
                (t.groupBy("day")
                  .agg(F.sha2(F.concat_ws(",", F.array_join(
                      F.transform(
                          F.array_sort(F.collect_list(
                              F.struct("event_id", "cents"))),
                          lambda s: F.concat_ws(
                              ":", s["event_id"].cast("string"),
                              s["cents"].cast("string"))), "|")),
                      256).alias("h"))
                  .collect())}

    before = part_hashes()
    target = "2024-01-10"
    fix = (base.filter(F.col("day") == F.lit(target).cast("date"))
               .withColumn("cents", F.col("cents") * 2))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        fix.write.mode("overwrite").partitionBy("day").parquet(table)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       prev)
    after = part_hashes()
    import datetime as _dt
    tkey = _dt.date(2024, 1, 10)
    untouched_ok = all(after.get(d) == h for d, h in before.items()
                       if d != tkey)
    target_changed = (tkey not in before
                      or after.get(tkey) != before[tkey])
    ok = bool(untouched_ok and target_changed
              and set(after) == set(before))
    return (spark.read.parquet(table)
                 .groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      F.sum("cents").alias("sum_cents"))
                 .withColumn("only_target_partition_touched",
                             F.lit(ok)))


# ---------------------------------------------------------------------------
# S25 — partition-hole detection + idempotent backfill (r8)
# ---------------------------------------------------------------------------

@register(
    "s25_partition_backfill",
    oracle=f"""
    WITH daily AS (
      SELECT ts::DATE AS day, COUNT(*) AS n_events,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS sum_cents
      FROM events GROUP BY 1
    ),
    mnd AS (SELECT MIN(day) AS mnd FROM daily)
    SELECT COUNT(*) AS n_days,
           CAST(SUM(CASE WHEN (day - mnd) % 2 = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS holes_before,
           CAST(SUM(CASE WHEN (day - mnd) % 2 = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_backfilled,
           CAST(0 AS BIGINT) AS holes_after,
           TRUE AS repaired_matches_full
    FROM daily, mnd
    """,
)
def s25_partition_backfill(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """S25 — PARTITION-HOLE repair: a published day-partitioned
    aggregate table is missing every other day (the classic
    upstream-outage shape); the repair job detects the holes by
    anti-joining the EXPECTED day spine (derived from the source)
    against the PUBLISHED partition set, recomputes exactly the
    missing days from source, and appends only those partitions —
    the MSCK-repair + targeted-backfill loop every production
    warehouse runs after an incident, and the batch complement of
    t30's streaming recovery (t30 replays forward from a checkpoint;
    this reconciles backward from the source of truth).

    Verdict columns (oracle-pinned): holes before/after (after MUST
    be 0), the backfilled-partition count, and
    ``repaired_matches_full`` — the repaired table is row-set-equal
    (exceptAll both ways) to a from-scratch full rebuild, proving
    the backfill touched nothing it shouldn't. Scale: hole detection
    is a partition-METADATA anti-join (day spine × published days —
    calendar-bounded relations, never fact-sized); the backfill
    recomputes only missing days (source scan pruned by the day
    predicate pushed to the partition column) and appends without
    rewriting healthy partitions."""
    out_dir = _mkdtemp(prefix="s25_backfill_")
    tbl = f"{out_dir}/daily"
    ev = load_table(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(cents).cast("long").alias("sum_cents")))
    mnd = daily.agg(F.min("day").alias("mnd"))
    with_par = (daily.crossJoin(F.broadcast(mnd))
                     .withColumn("_par",
                                 F.datediff("day", "mnd") % 2))
    # the "incident": only even-index days ever published
    (with_par.filter(F.col("_par") == 0).drop("_par", "mnd")
             .write.partitionBy("day").parquet(tbl))

    # repair pass: expected spine ⟕ published partitions → holes
    published_days = spark.read.parquet(tbl).select("day").distinct()
    missing = ckpt(daily.select("day")
                        .join(published_days, "day", "left_anti"))
    holes_before = missing.count()
    backfill = daily.join(missing, "day", "left_semi")
    n_backfilled = backfill.count()
    # append-exempt: batch backfill into a per-run table dir writes
    # ONLY partitions the spine diff proved missing — re-running the
    # repair recomputes an empty diff and appends nothing (the
    # post-repair hole count is part of the query's output)
    (backfill.write.mode("append").partitionBy("day").parquet(tbl))

    final = spark.read.parquet(tbl)
    holes_after = (daily.select("day")
                        .join(final.select("day").distinct(),
                              "day", "left_anti").count())
    cols = ["day", "n_events", "sum_cents"]
    a, b = final.select(*cols), daily.select(*cols)
    eq = (a.exceptAll(b).agg(F.count(F.lit(1)).alias("_x"))
           .crossJoin(b.exceptAll(a).agg(F.count(F.lit(1))
                                          .alias("_y"))))
    return (daily.agg(F.count(F.lit(1)).alias("n_days"))
                 .crossJoin(eq)
                 .select("n_days",
                         F.lit(holes_before).cast("long")
                          .alias("holes_before"),
                         F.lit(n_backfilled).cast("long")
                          .alias("n_backfilled"),
                         F.lit(holes_after).cast("long")
                          .alias("holes_after"),
                         ((F.col("_x") == 0) & (F.col("_y") == 0))
                         .alias("repaired_matches_full")))


# ---------------------------------------------------------------------------
# S26 — incremental aggregate-view maintenance (delta merge ≡ rebuild, r8)
# ---------------------------------------------------------------------------

@register(
    "s26_incremental_agg_maintenance",
    oracle=f"""
    WITH bounds AS (
      SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx
      FROM events
    ),
    full_v AS (
      SELECT event_type, ts::DATE AS day, COUNT(*) AS n_events,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS sum_cents
      FROM events GROUP BY 1, 2
    ),
    delta_rows AS (
      SELECT COUNT(*) AS n_delta FROM events, bounds
      WHERE epoch_us(ts) > mn + ((mx - mn) * 4) // 5
    )
    SELECT (SELECT COUNT(*) FROM full_v) AS n_groups,
           CAST((SELECT n_delta FROM delta_rows) AS BIGINT)
             AS n_delta_rows,
           TRUE AS merged_equals_rebuild,
           TRUE AS delta_touched_only_delta_days
    """,
)
def s26_incremental_agg_maintenance(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """S26 — INCREMENTAL VIEW MAINTENANCE of a day-level aggregate:
    the view is published from the first 80% of the event-time span;
    when the last 20% lands as a delta, maintenance computes partial
    aggregates of the DELTA ONLY and merges them into the stored view
    (count/sum are commutative monoids — merged = grouped re-sum of
    stored ∪ delta partials), never rescanning history. That is the
    materialized-view refresh loop (Delta/Iceberg MERGE, dbt
    incremental models) this warehouse's s-family publishes feed;
    s25 repairs MISSING partitions from source, this ABSORBS NEW data
    delta-sized.

    Verdict (oracle-pinned): the merged view is row-set-equal to a
    from-scratch rebuild over all events (exceptAll both ways), and
    the delta touched only days at-or-after the split boundary (the
    maintenance plan's read set is the delta + the stored rows for
    delta days — everything else passes through untouched). The 80/20
    split is exact integer-µs arithmetic. Scale: maintenance cost ∝
    delta size + delta-day groups; history is read back from the
    stored view, not recomputed."""
    out_dir = _mkdtemp(prefix="s26_ivm_")
    v1_dir, merged_dir = f"{out_dir}/v1", f"{out_dir}/merged"
    ev = load_table(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    b = ev.agg(F.unix_micros(F.min("ts")).alias("mn"),
               F.unix_micros(F.max("ts")).alias("mx"))
    evb = ev.crossJoin(F.broadcast(b))
    cut = F.col("mn") + F.expr("((mx - mn) * 4) div 5")

    def day_agg(df: DataFrame) -> DataFrame:
        return (df.groupBy("event_type",
                           F.to_date("ts").alias("day"))
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       F.sum(cents).cast("long").alias("sum_cents")))

    # published view: first 80% of the time span
    day_agg(evb.filter(F.unix_micros("ts") <= cut)).write \
        .parquet(v1_dir)
    delta = evb.filter(F.unix_micros("ts") > cut)
    n_delta = delta.count()
    # maintenance: delta partials merged with stored rows — monoid
    # re-sum groups only where (stored ∪ delta) rows meet
    stored = spark.read.parquet(v1_dir)
    merged = (stored.unionByName(day_agg(delta))
                    .groupBy("event_type", "day")
                    .agg(F.sum("n_events").cast("long")
                          .alias("n_events"),
                         F.sum("sum_cents").cast("long")
                          .alias("sum_cents")))
    merged.write.parquet(merged_dir)
    final = spark.read.parquet(merged_dir)

    rebuild = day_agg(evb)
    eq = (final.exceptAll(rebuild)
               .agg(F.count(F.lit(1)).alias("_x"))
               .crossJoin(rebuild.exceptAll(final)
                                 .agg(F.count(F.lit(1)).alias("_y"))))
    # the delta's day range must start at-or-after the cut boundary day
    dmin = delta.agg(F.min(F.to_date("ts")).alias("dmin"))
    touched = (day_agg(delta).crossJoin(F.broadcast(dmin))
               .agg(F.sum(F.when(F.col("day") < F.col("dmin"), 1)
                           .otherwise(0)).alias("_bad")))
    return (rebuild.agg(F.count(F.lit(1)).alias("n_groups"))
                   .crossJoin(eq).crossJoin(F.broadcast(touched))
                   .select("n_groups",
                           F.lit(n_delta).cast("long")
                            .alias("n_delta_rows"),
                           ((F.col("_x") == 0) & (F.col("_y") == 0))
                           .alias("merged_equals_rebuild"),
                           (F.col("_bad") == 0)
                           .alias("delta_touched_only_delta_days")))


# ---------------------------------------------------------------------------
# OP-S27 — time-travel: as-of-version read over the versioned layout (r9)
# ---------------------------------------------------------------------------

@register(
    "s27_asof_version_read",
    oracle="""
    SELECT CAST(2 AS INT) AS asof_version,
           COUNT(*) AS n_rows,
           (SELECT COUNT(*) FROM customer WHERE c_nationkey = 3)
             AS n_changed_vs_v1,
           TRUE AS asof_equals_recorded_v2,
           TRUE AS pruned_single_version
    FROM customer
    """,
)
def s27_asof_version_read(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """OP-S27 — TIME TRAVEL over the s10 versioned layout: publish
    three snapshot versions (v1 base; v2 restates nation-3 balances;
    v3 restates nation-5 on top), then read AS OF version 2 — the
    "what did the table say before yesterday's restatement" query
    every audited warehouse serves (Delta's VERSION AS OF / Iceberg
    snapshot reads; here the version is a partition column, so the
    as-of read is a partition-PRUNED scan: the filter v = 2
    eliminates the other versions' files at planning time — no
    full-history scan, the property that keeps time travel O(one
    snapshot) at 100 TB).

    Engine-computed verdicts, oracle-pinned: ``asof_equals_recorded_
    v2`` — the as-of read is set-equal (exceptAll both ways) to the
    exact frame published as v2, so it CONTAINS the nation-3
    restatement and NONE of v3's nation-5 changes;
    ``pruned_single_version`` — the rows read back carry exactly one
    distinct version value. ``n_changed_vs_v1`` replays in the
    oracle: the v2-vs-v1 content-hash anti-join (the s10 diff) must
    equal the nation-3 headcount."""
    c = (load_table(spark, sf_dir, "customer")
         .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"))
    v2_frame = c.withColumn(
        "c_acctbal",
        F.when(F.col("c_nationkey") == 3, F.col("c_acctbal") + 100.0)
         .otherwise(F.col("c_acctbal")))
    v3_frame = v2_frame.withColumn(
        "c_acctbal",
        F.when(F.col("c_nationkey") == 5, F.col("c_acctbal") + 200.0)
         .otherwise(F.col("c_acctbal")))
    target = _mkdtemp(prefix="asof_versioned_")
    publish_versioned(spark, c, target)
    publish_versioned(spark, v2_frame, target)
    publish_versioned(spark, v3_frame, target)

    # AS OF v2: the partition filter prunes to one version's files
    asof = spark.read.parquet(target).filter(F.col("v") == 2)
    data_cols = [col for col in asof.columns if col != "v"]
    asof_data = asof.select(*data_cols)

    def _cnt(df):
        return df.agg(F.count(F.lit(1)).alias("_c"))

    eq = (_cnt(asof_data.exceptAll(v2_frame))
          .crossJoin(_cnt(v2_frame.exceptAll(asof_data))
                     .withColumnRenamed("_c", "_d"))
          .select(((F.col("_c") == 0) & (F.col("_d") == 0))
                  .alias("asof_equals_recorded_v2")))
    pruned = (asof.agg(F.countDistinct("v").alias("_nv"))
                  .select((F.col("_nv") == 1)
                          .alias("pruned_single_version")))
    # the s10 content-hash diff: rows of v2 whose content is absent
    # from v1 = exactly the restated nation-3 rows
    allv = spark.read.parquet(target).filter(F.col("v") <= 2)
    hashed = allv.select(
        "v", F.sha2(F.to_json(F.struct(*sorted(data_cols))), 256)
              .alias("_hash"))
    prev = hashed.filter(F.col("v") == 1) \
                 .select(F.lit(2).alias("v"), "_hash")
    changed = (hashed.filter(F.col("v") == 2)
                     .join(prev, ["v", "_hash"], "left_anti")
                     .agg(F.count(F.lit(1)).alias("n_changed_vs_v1")))
    return (asof_data.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(F.broadcast(changed))
            .crossJoin(F.broadcast(eq))
            .crossJoin(F.broadcast(pruned))
            .select(F.lit(2).cast("int").alias("asof_version"),
                    "n_rows", "n_changed_vs_v1",
                    "asof_equals_recorded_v2",
                    "pruned_single_version"))
