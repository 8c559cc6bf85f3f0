"""Durability drills for the online-maintenance streams (r12,
VERDICT r11 What's-wrong #1 / next-round #1-2).

foreachBatch's documented contract is AT-LEAST-ONCE: a micro-batch can
be re-delivered with the same ``batch_id`` after a failure, and a
restarted query reopens from its checkpoint with a FRESH process (all
in-memory state gone) and the next batch_id. The r12 durable-state kit
(streaming/jobs.py) claims both are safe because every piece of
engine-external state is batch-id-keyed, overwrite-written and
listing-recovered. These tests prove it against the EXACT production
callbacks (the module-level ``_t4x_make_batch`` / ``_x2*_make_batch``
factories are what the registered queries run):

- SAME-BATCH REPLAY: invoke the callback twice with one batch_id
  mid-sequence; final results and state must be bit-identical to the
  uninterrupted run (a second merge of the same batch is the failure
  mode the r11 design had).
- TWO-LIFETIME RESTART (t30-style): run the real file-source +
  checkpoint topology, stop after a mid-stream batch, REBUILD the
  callback from nothing (fresh closure = fresh process — the factories
  hold no mutable state, recovery is pure listing), reopen the same
  checkpoint, drain. Final output must equal the uninterrupted run.
- POLICY RESTART: for the triggered compaction stream, the restart
  boundary is placed so the compaction trigger FIRES in lifetime 2
  from dup debt accrued in lifetime 1 — the production crash scenario
  for a maintenance policy.
"""

import inspect
import shutil

import pytest
from pyspark.sql import functions as F

import stock_data_warehouse_spark.streaming.jobs as J
from stock_data_warehouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"

#: every foreachBatch callback factory under the durable-state
#: contract — new maintenance streams must be added here (and get a
#: replay/restart drill) or the static gate below fails the build
_DURABLE_FACTORIES = [
    "_t40_make_batch", "_t47_make_batch", "_t42_make_batch",
    "_t43_make_batch", "_t44_make_batch", "_t45_make_batch",
    "_t46_make_batch", "_x2bc_make_batch", "_x2trig_make_batch",
]


@pytest.mark.parametrize("factory", _DURABLE_FACTORIES)
def test_no_append_writes_in_durable_callbacks(factory):
    """Static gate on the r12 durable-state discipline: a callback
    that slips back to ``mode("append")`` or an in-process version
    counter is retry-unsafe again (the exact r11 finding). Every
    factory must write only batch-id-keyed ``_sdir`` dirs (the
    t40/t46 value store is per-batch plain-overwrite partitioned
    trees under the same discipline, trigger-compacted into
    ``storec`` snapshots since r13) and recover predecessors by
    listing."""
    src = inspect.getsource(getattr(J, factory))
    assert 'mode("append")' not in src, factory
    assert "_sdir(" in src, factory
    assert 'state["' not in src, (factory, "in-process state counter")


def test_ingest_stream_bodies_have_no_append_writes():
    """Same gate for the two r10-era ingest streams hardened in r12
    (their callbacks are closures inside the query functions)."""
    for fn in ("x2_incremental_minhash_stream", "x3_ivf_ingest_stream"):
        src = inspect.getsource(getattr(J, fn))
        assert 'mode("append")' not in src, fn
        assert "_sdir(" in src, fn


def test_append_writes_are_exempt_marked_repo_wide():
    """VERDICT r12 next-round #4: make the no-append invariant
    checkable REPO-WIDE rather than scoped to the callbacks —
    streaming/jobs.py must contain zero ``mode("append")`` (the
    durable-state kit's hard rule), and every batch-operator append
    elsewhere in the engine package must carry an ``append-exempt:``
    comment within the preceding lines stating why a re-run cannot
    double-write it."""
    import pathlib
    assert 'mode("append")' not in pathlib.Path(
        J.__file__).read_text(), "stream state must never append"
    pkg = pathlib.Path(J.__file__).resolve().parents[1]
    for py in sorted(pkg.rglob("*.py")):
        lines = py.read_text().splitlines()
        for i, ln in enumerate(lines):
            if 'mode("append")' not in ln:
                continue
            window = "\n".join(lines[max(0, i - 8):i + 1])
            assert "append-exempt:" in window, (
                str(py), i + 1,
                "unexempted mode('append') — justify or overwrite")


def test_file_streams_open_only_through_the_driver():
    """Every file stream in streaming/jobs.py opens through
    ``events_stream`` (the events table) or ``_staged_stream`` (a
    staged landing under ``STREAM_ADMISSION``), so no query grows its
    own reader with drifting admission options again."""
    import ast
    import pathlib
    text = pathlib.Path(J.__file__).read_text()
    spans = [(n.lineno, n.end_lineno, n.name)
             for n in ast.parse(text).body
             if isinstance(n, ast.FunctionDef)]
    owners = {next((name for lo, hi, name in spans if lo <= i <= hi),
                   f"module line {i}")
              for i, ln in enumerate(text.splitlines(), 1)
              if "spark.readStream" in ln}
    assert owners == {"events_stream", "_staged_stream"}, owners


def test_band_store_trees_are_written_only_by_the_kit():
    """The partitioned band-store tree write lives in
    ``_land_band_store`` (the per-batch tree) and
    ``_maybe_compact_store`` (runs and snapshots) only, so a
    maintenance callback cannot grow its own copy of the store body
    again. ``_write_arrival_files`` partitions the staged landing by
    ``arrival`` and is not a store writer."""
    import ast
    import pathlib
    text = pathlib.Path(J.__file__).read_text()
    spans = [(n.lineno, n.end_lineno, n.name)
             for n in ast.parse(text).body
             if isinstance(n, ast.FunctionDef)]
    owners = {next((name for lo, hi, name in spans if lo <= i <= hi),
                   f"module line {i}")
              for i, ln in enumerate(text.splitlines(), 1)
              if ".write.partitionBy(" in ln}
    assert owners - {"_write_arrival_files"} == {
        "_land_band_store", "_maybe_compact_store"}, owners


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _union_trees(spark, paths):
    """Read each partitioned tree separately and union (one root per
    read — exactly how the production store readers resolve a live
    set; a single multi-path read trips partition discovery)."""
    dfs = [spark.read.parquet(p) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _event_splits(spark, cols, n):
    ev = load_table(spark, SF, "events").select(*cols)
    mn, mx = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    arr = F.expr(f"((unix_micros(ts) - {mn}) * {n}) "
                 f"div ({mx - mn + 1})")
    ev = ev.withColumn("_arr", arr)
    return [ev.filter(F.col("_arr") == k).drop("_arr").localCheckpoint()
            for k in range(n)]


def _event_quartiles(spark, cols):
    return _event_splits(spark, cols, 4)


def _doc_quarters(spark):
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    return [d.filter(F.col("doc_id") % 4 == k).localCheckpoint()
            for k in range(4)]


def _doc_pairs(spark):
    d = (load_table(spark, SF, "documents")
         .select("doc_id", "n_chars"))
    return [d.filter(F.col("doc_id") % 4 == k).localCheckpoint()
            for k in range(4)]


# ---------------------------------------------------------------------------
# Same-batch replay: the callback invoked twice with one batch_id must
# leave results AND state identical to the clean run.
# ---------------------------------------------------------------------------

_REPLAY_CASES = [
    # (stream, factory name, batch builder, state family to compare)
    ("t43", "_t43_make_batch",
     lambda s: _event_quartiles(
         s, ["event_id", "ts", "event_type", "value"]), "dcy"),
    ("t42", "_t42_make_batch", _doc_pairs, "rsv"),
    ("t44", "_t44_make_batch",
     lambda s: _event_quartiles(s, ["event_id", "ts", "user_id"]),
     "kmv"),
    ("t45", "_t45_make_batch", _doc_quarters, "mgs"),
]


@pytest.mark.parametrize("name,factory,builder,fam", _REPLAY_CASES,
                         ids=[c[0] for c in _REPLAY_CASES])
def test_same_batch_replay_is_idempotent(spark, name, factory,
                                         builder, fam):
    batches = builder(spark)
    make = getattr(J, factory)

    def run(out_dir, schedule):
        cb = make(spark, out_dir)
        for bid, df in schedule:
            cb(df, bid)
        sroot = f"{out_dir}/state"
        return (_rows(J._read_family(spark, sroot, "res")),
                _rows(spark.read.parquet(J._sdir(sroot, fam, 3))))

    clean = run(J._mkdtemp(prefix=f"dur_{name}_clean_"),
                list(enumerate(batches)))
    # re-deliver batch 1 (the first one that MERGES prior state)
    replay = run(J._mkdtemp(prefix=f"dur_{name}_replay_"),
                 [(0, batches[0]), (1, batches[1]), (1, batches[1]),
                  (2, batches[2]), (3, batches[3])])
    assert replay == clean


def test_t40_same_batch_replay_including_band_store(spark,
                                                    monkeypatch):
    """t40's replay drill also pins the band STORE (the per-batch
    partitioned-tree path, two-tier trigger-compacted since r14):
    a re-delivered batch must not leave a second copy of its rows in
    its own store tree — the quantiles would silently shift for every
    later batch — and re-delivered RUN-firing and SNAPSHOT-firing
    batches must short-circuit into the identical store. Thresholds
    are lowered (runs at 3 increments, snapshots at 2 runs — the
    kit reads them at call time for exactly this) so 8 batches
    exercise BOTH fire kinds plus post-snapshot re-accumulation. The
    comparison reads the RESOLVED live store, band state and
    results, plus the retention pins."""
    monkeypatch.setattr(J, "_STORE_RUN_INCREMENTS", 3)
    monkeypatch.setattr(J, "_STORE_COMPACT_RUNS", 2)
    n = 8
    batches = _event_splits(spark, ["event_id", "ts", "value"], n)

    def run(out_dir, schedule):
        cb = J._t40_make_batch(spark, out_dir)
        for bid, df in schedule:
            cb(df, bid)
        sroot = f"{out_dir}/state"
        live = J._store_live_trees(sroot, "store", "storec")
        return (_rows(J._read_family(spark, sroot, "res")),
                _rows(spark.read.parquet(
                    J._sdir(sroot, "bands", n - 1))),
                _rows(_union_trees(spark, live)
                      .select("value", "_qb")),
                len(J._committed_versions(sroot, "bands")),
                len(live),
                len(J._committed_versions(sroot, "storer")),
                len(J._committed_versions(sroot, "storec")))

    clean_sched = list(enumerate(batches))
    # with K=3/R=2: runs fire at b2 and b4, the snapshot at b4, a
    # fresh post-snapshot run at b6 — re-deliver a mid-sequence
    # merge batch (1), the first RUN-firing batch (2) and the
    # SNAPSHOT-firing batch (4)
    replay_sched = (clean_sched[:2] + [(1, batches[1])]
                    + clean_sched[2:3] + [(2, batches[2])]
                    + clean_sched[3:5] + [(4, batches[4])]
                    + clean_sched[5:])
    clean = run(J._mkdtemp(prefix="dur_t40_clean_"), clean_sched)
    replay = run(J._mkdtemp(prefix="dur_t40_replay_"), replay_sched)
    assert replay == clean
    assert clean[3] <= J._MONOID_KEEP
    assert clean[4] <= 1 + (2 - 1) + 3  # 1 snap + (R-1) runs + K incs
    assert clean[5] == 1  # the post-snapshot run at b6 is live
    assert clean[6] == 1  # the drill actually exercised the snapshot


# ---------------------------------------------------------------------------
# Two-lifetime restart (t30-style): real file source, real checkpoint,
# the callback REBUILT from nothing between lifetimes.
# ---------------------------------------------------------------------------


def _run_stream_lifetimes(spark, out_dir, hold, schema, make_cb,
                          tranches):
    """Drive the production topology across query lifetimes: per
    lifetime, move the tranche's staged files into the live landing
    zone, build a FRESH callback (no shared closure state — a new
    process), open a brand-new query on the SAME checkpoint, drain
    with AvailableNow."""
    live = f"{out_dir}/live"
    for files in tranches:
        for fn in files:
            shutil.move(f"{hold}/{fn}", f"{live}/{fn}")
        cb = make_cb()
        s = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .option("recursiveFileLookup", "true")
             .parquet(live))
        sq = (s.writeStream.foreachBatch(cb)
              .option("checkpointLocation", f"{out_dir}/checkpoint")
              .trigger(availableNow=True)
              .start())
        sq.awaitTermination()


def test_t40_two_lifetime_restart(spark):
    ev = (load_table(spark, SF, "events")
          .select("event_id", "ts", "value"))
    mn, mx = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    arrival = F.expr(f"((unix_micros(ts) - {mn}) * 4) "
                     f"div ({mx - mn + 1})")
    staged = ev.withColumn("arrival", arrival)
    schema = "event_id long, ts timestamp, value double"

    def run(tranches):
        out_dir = J._mkdtemp(prefix="dur_t40_restart_")
        hold = f"{out_dir}/hold"
        J._write_arrival_files(spark, staged, hold, n_files=4)
        _run_stream_lifetimes(
            spark, out_dir, hold, schema,
            lambda: J._t40_make_batch(spark, out_dir), tranches)
        return _rows(J._read_family(spark, f"{out_dir}/state", "res"))

    uninterrupted = run([["a0", "a1", "a2", "a3"]])
    restarted = run([["a0", "a1"], ["a2", "a3"]])
    assert restarted == uninterrupted
    assert len(uninterrupted) == 4  # one exact answer per batch


def test_t40_two_lifetime_restart_across_fires(spark, monkeypatch):
    """r14 restart drill for the TIERED compaction: the process dies
    right after the SNAPSHOT-firing batch (and, uninterrupted-side,
    runs straight through), then a FRESH callback on the same
    checkpoint drains the rest — recovery is pure listing, so the
    post-restart batches must resolve the snapshot + post-snapshot
    runs identically and produce bit-equal answers. Thresholds
    lowered (3 incs/run, 2 runs/snapshot) so 8 batches put a run
    fire (b2), the snapshot fire (b4) and a post-snapshot run (b6)
    all BEHIND or ACROSS the restart boundary."""
    monkeypatch.setattr(J, "_STORE_RUN_INCREMENTS", 3)
    monkeypatch.setattr(J, "_STORE_COMPACT_RUNS", 2)
    ev = (load_table(spark, SF, "events")
          .select("event_id", "ts", "value"))
    mn, mx = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    arrival = F.expr(f"((unix_micros(ts) - {mn}) * 8) "
                     f"div ({mx - mn + 1})")
    staged = ev.withColumn("arrival", arrival)
    schema = "event_id long, ts timestamp, value double"
    files = [f"a{i}" for i in range(8)]

    def run(tranches):
        out_dir = J._mkdtemp(prefix="dur_t40_restart_fire_")
        hold = f"{out_dir}/hold"
        J._write_arrival_files(spark, staged, hold, n_files=8)
        _run_stream_lifetimes(
            spark, out_dir, hold, schema,
            lambda: J._t40_make_batch(spark, out_dir), tranches)
        sroot = f"{out_dir}/state"
        live = J._store_live_trees(sroot, "store", "storec")
        return (_rows(J._read_family(spark, sroot, "res")),
                _rows(_union_trees(spark, live)
                      .select("value", "_qb")),
                len(J._committed_versions(sroot, "storer")),
                len(J._committed_versions(sroot, "storec")))

    uninterrupted = run([files])
    # restart boundary immediately after the snapshot-firing batch
    # (b4): lifetime 2 opens on a store that is snapshot + own inc
    restarted = run([files[:5], files[5:]])
    assert restarted == uninterrupted
    assert uninterrupted[2] == 1  # post-snapshot run (b6) live
    assert uninterrupted[3] == 1  # the snapshot fire happened
    assert len(uninterrupted[0]) == 8


def test_kit_version_selection_contract(tmp_path):
    """Pure-python pin of the kit's recovery reads: only
    ``_SUCCESS``-marked dirs are committed; predecessors are strictly
    before the batch_id (a failed attempt's own dir is invisible);
    the segmented-store live set is (latest prior snapshot else base)
    + increments after it, with include_current selecting the
    batch-start vs post-append view."""
    import os
    root = str(tmp_path)

    def mk(fam, v, committed=True):
        d = J._sdir(root, fam, v)
        os.makedirs(d)
        if committed:
            open(os.path.join(d, "_SUCCESS"), "w").close()

    mk("fam", 0); mk("fam", 1); mk("fam", 3)
    mk("fam", 2, committed=False)          # crashed attempt: invisible
    assert J._committed_versions(root, "fam") == [0, 1, 3]
    assert J._versions_before(root, "fam", 3) == [0, 1]
    assert J._latest_before(root, "fam", 3) == J._sdir(root, "fam", 1)
    assert J._latest_before(root, "fam", 0) is None

    mk("inc", 0); mk("inc", 1); mk("inc", 2); mk("cmp", 1)
    base = os.path.join(root, "base")
    # batch 2's probe snapshot: snapshot cmp_b1 (< 2), no later incs
    assert J._live_segments(root, "cmp", "inc", base, 2, False) == [
        J._sdir(root, "cmp", 1)]
    # batch 2's post-append view: cmp_b1 + its own inc_b2
    assert J._live_segments(root, "cmp", "inc", base, 2, True) == [
        J._sdir(root, "cmp", 1), J._sdir(root, "inc", 2)]
    # batch 1 RETRY after its failed attempt already wrote cmp_b1:
    # its own snapshot is invisible — base + inc_b0 (+ own inc with
    # include_current), exactly the first attempt's inputs
    assert J._live_segments(root, "cmp", "inc", base, 1, False) == [
        base, J._sdir(root, "inc", 0)]
    assert J._live_segments(root, "cmp", "inc", base, 1, True) == [
        base, J._sdir(root, "inc", 0), J._sdir(root, "inc", 1)]
    # final read: latest snapshot + everything after it
    assert J._live_segments(root, "cmp", "inc", base) == [
        J._sdir(root, "cmp", 1), J._sdir(root, "inc", 2)]


def test_kit_retention_contract(tmp_path):
    """Pure-python pin of the r13 retention primitives (kit header's
    RETENTION section): monoid vacuum keeps the newest ``keep``
    versions at or below the batch and never touches newer ones; the
    compacting store resolves (latest snapshot ≤ cutoff, covering
    increments < its version) + uncovered increments, including the
    failed-same-batch-attempt snapshot the prequential fence must be
    able to resolve safely; a committed same-version snapshot
    short-circuits re-compaction."""
    import os
    root = str(tmp_path)

    def mk(fam, v):
        d = J._sdir(root, fam, v)
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()

    # monoid vacuum: keep newest 2 ≤ batch_id; versions above the
    # batch are out of contract and untouched
    for v in range(5):
        mk("m", v)
    J._vacuum_superseded(root, "m", 3, keep=2)
    assert J._committed_versions(root, "m") == [2, 3, 4]

    # store live-set resolution, no snapshot yet
    for v in range(4):
        mk("st", v)
    sd = lambda fam, v: J._sdir(root, fam, v)  # noqa: E731
    assert J._store_live_trees(root, "st", "stc", 2, True) == [
        sd("st", 0), sd("st", 1), sd("st", 2)]
    assert J._store_live_trees(root, "st", "stc", 2, False) == [
        sd("st", 0), sd("st", 1)]

    # snapshot at 2 covers increments < 2; covered increments may be
    # vacuumed without changing any reachable resolution
    mk("stc", 2)
    want_incl = [sd("stc", 2), sd("st", 2)]
    want_strict = [sd("stc", 2)]
    assert J._store_live_trees(root, "st", "stc", 2, True) == want_incl
    assert J._store_live_trees(root, "st", "stc", 2, False) == \
        want_strict
    shutil.rmtree(sd("st", 0)); shutil.rmtree(sd("st", 1))
    assert J._store_live_trees(root, "st", "stc", 2, True) == want_incl
    assert J._store_live_trees(root, "st", "stc", 2, False) == \
        want_strict
    assert J._store_live_trees(root, "st", "stc") == [
        sd("stc", 2), sd("st", 2), sd("st", 3)]

    # failed-attempt snapshot at the RETRIED batch's own version:
    # strict fence = exactly the snapshot (it covers < 3 — no own
    # values can leak); inclusive = snapshot + own increment
    mk("stc", 3)
    assert J._store_live_trees(root, "st", "stc", 3, False) == [
        sd("stc", 3)]
    assert J._store_live_trees(root, "st", "stc", 3, True) == [
        sd("stc", 3), sd("st", 3)]

    # a committed same-version snapshot short-circuits re-compaction
    # BEFORE any Spark work (spark=None would explode otherwise)
    J._maybe_compact_store(None, root, "st", "stc", 3)

    # x2-style deferred segment vacuum (snapshot at v covers ≤ v):
    # at batch 4, the latest snapshot STRICTLY before (v=3) covers
    # increments ≤ 3 — they and older snapshots die, the covering
    # snapshot and later increments survive; at batch 3 (a retry of
    # the snapshot's own batch) only the older snapshot's coverage
    # (≤ 2 here) is vacuumable
    for v in range(5):
        mk("seg", v)
    mk("segc", 1); mk("segc", 3)
    J._vacuum_covered_segments(root, "segc", "seg", 3)
    assert J._committed_versions(root, "seg") == [2, 3, 4]
    assert J._committed_versions(root, "segc") == [1, 3]
    J._vacuum_covered_segments(root, "segc", "seg", 4)
    assert J._committed_versions(root, "seg") == [4]
    assert J._committed_versions(root, "segc") == [3]
    assert J._live_segments(root, "segc", "seg",
                            os.path.join(root, "sbase")) == [
        sd("segc", 3), sd("seg", 4)]


def test_monoid_prev_empty_state_falls_back_to_ledger(spark,
                                                      tmp_path):
    """ADVICE r13: a committed LATEST-ONLY state relation can be
    EMPTY (t45's MG prune drops every row when all surviving weights
    tie at the (K+1)-th largest) — ``max(_ord)`` is then NULL and the
    ordinal must fall back to the never-vacuumed results ledger
    (one committed ``res`` dir per prior data batch) instead of
    crashing the next batch with a TypeError."""
    root = str(tmp_path)
    empty = spark.range(0).select(
        F.col("id").alias("k"),
        F.lit(0).cast("long").alias("_ord"))
    empty.write.mode("overwrite").parquet(J._sdir(root, "mgs", 3))
    # two committed prior result dirs → the ordinal of batch 4 is 2
    for v in (1, 3):
        spark.range(1).write.mode("overwrite").parquet(
            J._sdir(root, "res", v))
    prev, ordinal = J._monoid_prev(spark, root, "mgs", 4)
    assert prev is not None and prev.count() == 0
    assert ordinal == 2
    # the post-stream pin's fallback: res count − 1
    assert J._monoid_final_ord(spark, root, "mgs") == 1


def test_t47_same_batch_replay_including_fired_columns(spark):
    """t47's replay drill: the GRADED decision columns must be
    retry-stable — re-deliver the run-firing batch (2) and the
    snapshot-firing batch (4); the retried batch's compaction
    short-circuits into its own committed run/snapshot, so
    fired_run / fired_snapshot / live_trees (and the quantiles) must
    be bit-identical to the clean run. t47 carries its lowered
    thresholds internally, so no monkeypatch."""
    n = 12
    batches = _event_splits(spark, ["event_id", "ts", "value"], n)

    def run(out_dir, schedule):
        cb = J._t47_make_batch(spark, out_dir)
        for bid, df in schedule:
            cb(df, bid)
        sroot = f"{out_dir}/state"
        live = J._store_live_trees(sroot, "store", "storec")
        return (_rows(J._read_family(spark, sroot, "res")),
                _rows(_union_trees(spark, live)
                      .select("value", "_qb")),
                len(J._committed_versions(sroot, "bands")),
                len(live))

    clean_sched = list(enumerate(batches))
    replay_sched = (clean_sched[:3] + [(2, batches[2])]
                    + clean_sched[3:5] + [(4, batches[4])]
                    + clean_sched[5:])
    clean = run(J._mkdtemp(prefix="dur_t47_clean_"), clean_sched)
    replay = run(J._mkdtemp(prefix="dur_t47_replay_"), replay_sched)
    assert replay == clean
    assert clean[2] <= J._MONOID_KEEP
    # the graded schedule actually happened: runs at {2,6,10},
    # snapshots at {4,8}, final live set = snap8+run10+inc10+inc11
    fired = {(r[0], r[4], r[5]) for r in clean[0]}
    assert (2, True, False) in fired and (4, False, True) in fired
    assert (8, False, True) in fired and (10, True, False) in fired
    assert clean[3] == 4


def test_kit_tiered_compaction_contract(tmp_path):
    """Pure-python pin of the r14 two-tier covering conventions
    (kit header RETENTION section): a run at version v covers
    increments < v above the previous marker; a snapshot at version
    v covers increments < v AND runs ≤ v; resolution is snapshot +
    runs after it + increments from the newest marker; the
    idempotent ``_vacuum_covered_trees`` deletes exactly the covered
    trees; committed same-version runs/snapshots short-circuit
    their own re-fire."""
    import os
    root = str(tmp_path)

    def mk(fam, v):
        d = J._sdir(root, fam, v)
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()

    sd = lambda fam, v: J._sdir(root, fam, v)  # noqa: E731

    # cold store: incs 0..5, a run fired at 4 (covers incs 0..3)
    for v in range(6):
        mk("st", v)
    mk("str", 4)
    assert J._store_live_trees(root, "st", "stc", 5, True) == [
        sd("str", 4), sd("st", 4), sd("st", 5)]
    # strict fence at the run's own batch: the run covers < 4 — it
    # is safe to resolve, and the increments it covers are excluded
    # even while still on disk
    assert J._store_live_trees(root, "st", "stc", 4, False) == [
        sd("str", 4)]
    J._vacuum_covered_trees(root, "st", "stc", 5)
    assert J._committed_versions(root, "st") == [4, 5]
    assert J._committed_versions(root, "str") == [4]

    # a snapshot at 6 covers incs < 6 AND runs ≤ 6
    mk("st", 6)
    mk("stc", 6)
    assert J._store_live_trees(root, "st", "stc", 6, True) == [
        sd("stc", 6), sd("st", 6)]
    assert J._store_live_trees(root, "st", "stc", 6, False) == [
        sd("stc", 6)]
    J._vacuum_covered_trees(root, "st", "stc", 6)
    assert J._committed_versions(root, "st") == [6]
    assert J._committed_versions(root, "str") == []
    assert J._committed_versions(root, "stc") == [6]

    # a committed same-version RUN short-circuits level 1 (spark=None
    # would explode if it tried to consolidate); its covered
    # increments are vacuumed by the trailing idempotent pass —
    # the crash-between-_SUCCESS-and-vacuum window (ADVICE r13)
    mk("st", 7); mk("st", 8); mk("str", 8)
    J._maybe_compact_store(None, root, "st", "stc", 8,
                           run_threshold=2, snap_threshold=99)
    assert J._committed_versions(root, "st") == [8]
    assert J._store_live_trees(root, "st", "stc", 9, True) == [
        sd("stc", 6), sd("str", 8), sd("st", 8)]

    # a committed same-version SNAPSHOT short-circuits everything
    # and still pays the vacuum before returning
    mk("st", 9); mk("stc", 9)
    J._maybe_compact_store(None, root, "st", "stc", 9)
    assert J._committed_versions(root, "st") == [9]
    assert J._committed_versions(root, "str") == []
    assert J._committed_versions(root, "stc") == [9]
    assert J._store_live_trees(root, "st", "stc", 10, True) == [
        sd("stc", 9), sd("st", 9)]


def test_t46_same_batch_replay_fence_not_poisoned(spark,
                                                  monkeypatch):
    """t46's replay drill (r13, tiered r14): re-deliver a
    mid-sequence batch, the batch whose first attempt wrote a RUN,
    and the batch whose first attempt SNAPSHOTTED — each retried
    batch's fence must resolve the strict prefix (its own
    first-attempt store tree, run and snapshot contain only values
    strictly before it, so nothing of its own leaks into the
    quantiles it is judged by), and the re-run compactions must
    short-circuit. Results, band state and the resolved live store
    must be bit-identical to the clean run. Thresholds lowered
    (3 increments per run, 2 runs per snapshot) so 8 batches
    exercise both fire kinds."""
    monkeypatch.setattr(J, "_STORE_RUN_INCREMENTS", 3)
    monkeypatch.setattr(J, "_STORE_COMPACT_RUNS", 2)
    n = 8
    batches = _event_splits(spark, ["event_id", "ts", "value"], n)

    def run(out_dir, schedule):
        cb = J._t46_make_batch(spark, out_dir)
        for bid, df in schedule:
            cb(df, bid)
        sroot = f"{out_dir}/state"
        live = J._store_live_trees(sroot, "store", "storec")
        return (_rows(J._read_family(spark, sroot, "res")),
                _rows(spark.read.parquet(
                    J._sdir(sroot, "bands", n - 1))),
                _rows(_union_trees(spark, live)
                      .select("value", "_qb")),
                len(J._committed_versions(sroot, "bands")),
                len(live),
                len(J._committed_versions(sroot, "storer")),
                len(J._committed_versions(sroot, "storec")))

    clean_sched = list(enumerate(batches))
    replay_sched = (clean_sched[:2] + [(1, batches[1])]
                    + clean_sched[2:3] + [(2, batches[2])]
                    + clean_sched[3:5] + [(4, batches[4])]
                    + clean_sched[5:])
    clean = run(J._mkdtemp(prefix="dur_t46_clean_"), clean_sched)
    replay = run(J._mkdtemp(prefix="dur_t46_replay_"), replay_sched)
    assert replay == clean
    # the retention pins: band state vacuumed to the keep horizon,
    # store live set bounded, both fire kinds actually exercised
    assert clean[3] <= J._MONOID_KEEP
    assert clean[4] <= 1 + (2 - 1) + 3
    assert clean[5] == 1
    assert clean[6] == 1


def test_t40_lifetime_state_is_bounded(spark):
    """The r13 lifetime gate (VERDICT r12 next-round #3, pytest-sized
    twin of tools/lifetime_probe.py): drive t40's production callback
    through 24 data batches — 6× the catalog demo — and assert the
    metadata plane stays BOUNDED: band-state versions ≤ keep, live
    store tree count ≤ the compaction threshold at every batch
    boundary, total state-dir count flat (not O(#batches)), and the
    final answer still bit-equal to the batch staircase over the full
    prefix (retention must never change a value)."""
    from stock_data_warehouse_spark.operators.staircase import (
        bucketed_exact_quantiles, double_value_bucket)
    from stock_data_warehouse_spark.functions.scalars import (
        round_half_up)

    n_batches = 24
    ev = load_table(spark, SF, "events").select("event_id", "ts",
                                                "value")
    mn, mx = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    arr = F.expr(f"((unix_micros(ts) - {mn}) * {n_batches}) "
                 f"div ({mx - mn + 1})")
    ev = ev.withColumn("_arr", arr)
    batches = [ev.filter(F.col("_arr") == k).drop("_arr")
                 .localCheckpoint() for k in range(n_batches)]

    out_dir = J._mkdtemp(prefix="dur_t40_lifetime_")
    sroot = f"{out_dir}/state"
    cb = J._t40_make_batch(spark, out_dir)
    max_state_dirs = 0
    run_fires, snap_fires = 0, 0
    prev_runs, prev_snaps = set(), set()
    for bid, df in enumerate(batches):
        cb(df, bid)
        n_bands = len(J._committed_versions(sroot, "bands"))
        live = len(J._store_live_trees(sroot, "store", "storec",
                                       bid, inclusive=True))
        assert n_bands <= J._MONOID_KEEP, (bid, n_bands)
        assert live <= J._STORE_LIVE_BOUND, (bid, live)
        runs = set(J._committed_versions(sroot, "storer"))
        snaps = set(J._committed_versions(sroot, "storec"))
        run_fires += len(runs - prev_runs)
        snap_fires += len(snaps - prev_snaps)
        prev_runs, prev_snaps = runs, snaps
        state_dirs = (n_bands
                      + len(J._committed_versions(sroot, "store"))
                      + len(runs) + len(snaps))
        max_state_dirs = max(max_state_dirs, state_dirs)
    # flat bound, independent of n_batches: keep + the live-set
    # bound + one superseded entry in flight
    assert max_state_dirs <= (J._MONOID_KEEP
                              + J._STORE_LIVE_BOUND + 1)
    # 24 batches at production thresholds (6 incs/run, 4 runs/snap)
    # must have exercised BOTH tiers: runs at b5/b10/b15, then the
    # snapshot at b20 (the 4th run is absorbed — the tipping run is
    # skipped and the snapshot fires directly)
    assert run_fires >= 3 and snap_fires >= 1, (run_fires,
                                                snap_fires)
    # sink family (results) is one dir per data batch by design
    assert len(J._committed_versions(sroot, "res")) == n_batches

    # value parity at depth: last batch's answer == batch staircase
    # over the whole relation
    last = J._committed_versions(sroot, "res")[-1]
    got = spark.read.parquet(J._sdir(sroot, "res", last)).first()
    want = (bucketed_exact_quantiles(
                ev.select("value"), [], "value", [0.5, 0.95],
                bucket=double_value_bucket(F.col("value"), 2.0))
            .select(F.col("n"),
                    round_half_up(F.col("q0"), 6).alias("p50"),
                    round_half_up(F.col("q1"), 6).alias("p95"))
            .first())
    assert got["batch_id"] == n_batches - 1
    assert got["n_events"] == want["n"]
    assert got["p50_value"] == want["p50"]
    assert got["p95_value"] == want["p95"]


def test_t45_two_lifetime_restart(spark):
    """Second restart drill on the stream with the most state SHAPES
    (MG counters + the cumulative-subtracted-mass error ledger): stop
    after batch 1, rebuild the callback from nothing, drain. The
    ledger is the subtle one — an in-memory s_cum would silently
    reset to 0 in lifetime 2 and deflate every later bound."""
    d = (load_table(spark, SF, "documents")
         .select("doc_id", "text"))
    staged = d.withColumn("arrival", (F.col("doc_id") % 4).cast("int"))
    schema = "doc_id long, text string"

    def run(tranches):
        out_dir = J._mkdtemp(prefix="dur_t45_restart_")
        hold = f"{out_dir}/hold"
        J._write_arrival_files(spark, staged, hold, n_files=4)
        _run_stream_lifetimes(
            spark, out_dir, hold, schema,
            lambda: J._t45_make_batch(spark, out_dir), tranches)
        sroot = f"{out_dir}/state"
        return (_rows(J._read_family(spark, sroot, "res")),
                _rows(J._read_family(spark, sroot, "cum")))

    uninterrupted = run([["a0", "a1", "a2", "a3"]])
    restarted = run([["a0", "a1"], ["a2", "a3"]])
    assert restarted == uninterrupted


def test_x2_triggered_restart_fires_in_second_lifetime(spark):
    """The policy restart drill (VERDICT r11 next-round #2): at
    sf0.001 the trigger decisions are (F, F, T) — so stopping after
    batch 1 puts ALL the dup debt accrual in lifetime 1 and the FIRE
    in lifetime 2. Recovery must restore the verdict ledger, the
    removed ledger (empty) and the segmented store well enough that
    the restarted process reaches the identical compaction decision
    and store size."""
    from stock_data_warehouse_spark.plans.extensions import (
        _portable_bands)

    d = load_table(spark, SF, "documents")
    corpus = d.filter(F.col("doc_id") < 400)
    arrivals = d.filter(F.col("doc_id") >= 400)
    staged = (arrivals.select("doc_id", "text")
              .withColumn("arrival", F.col("doc_id") % 3))
    schema = "doc_id long, text string"

    def run(tranches):
        out_dir = J._mkdtemp(prefix="dur_x2trig_restart_")
        sroot = f"{out_dir}/state"
        _portable_bands(corpus).write.parquet(f"{sroot}/bidx_base")
        J._x2_postings(corpus).write.parquet(f"{sroot}/bpost_base")
        hold = f"{out_dir}/hold"
        J._write_arrival_files(spark, staged, hold, n_files=3)
        _run_stream_lifetimes(
            spark, out_dir, hold, schema,
            lambda: J._x2trig_make_batch(spark, out_dir), tranches)
        res = _rows(J._read_family(spark, sroot, "res"))
        return res, J._committed_versions(sroot, "rmv")

    clean_res, clean_rmv = run([["a0", "a1", "a2"]])
    rest_res, rest_rmv = run([["a0", "a1"], ["a2"]])
    assert rest_res == clean_res
    assert rest_rmv == clean_rmv
    # the drill's precondition: the fire actually lands in batch 2,
    # i.e. lifetime 2 of the restarted run (data-dependent — if a
    # testdata regeneration moves it, re-site the split point)
    fired = [r[5] for r in clean_res]  # compaction_fired per batch
    assert fired == [False, False, True]
    assert clean_rmv == [2]


def test_par_actions_failure_cancels_overlapped_jobs(spark, monkeypatch):
    """An overlapped write that raises fails its micro-batch promptly:
    ``_par_actions`` cancels the tagged sibling jobs (here a job that
    would run for minutes) instead of letting them run to the end, and
    leaves no active job behind. The sibling's job ran under the
    caller's job group (the workers inherit it). A replay of the
    failed batch then converges to the clean run."""
    import threading
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    batches = _doc_pairs(spark)
    real = J._par_actions
    started = threading.Event()

    def long_job():
        started.set()
        spark.range(0, 1 << 40, 1, 1).agg(F.max("id")).collect()

    def failing_write():
        started.wait(60)
        time.sleep(1.0)  # the sibling's job is submitted and running
        raise RuntimeError("injected overlapped write failure")

    def fail_once(*thunks):
        monkeypatch.setattr(J, "_par_actions", real)
        return real(*thunks, long_job, failing_write)

    def final(out_dir):
        sroot = f"{out_dir}/state"
        return (_rows(J._read_family(spark, sroot, "res")),
                _rows(spark.read.parquet(J._sdir(sroot, "rsv", 3))))

    clean_dir = J._mkdtemp(prefix="dur_par_clean_")
    cb = J._t42_make_batch(spark, clean_dir)
    for bid, df in enumerate(batches):
        cb(df, bid)

    out_dir = J._mkdtemp(prefix="dur_par_fail_")
    cb = J._t42_make_batch(spark, out_dir)
    cb(batches[0], 0)
    monkeypatch.setattr(J, "_par_actions", fail_once)
    sc.setJobGroup("par_actions_drill", "overlapped write failure")
    t0 = time.monotonic()
    try:
        with pytest.raises(RuntimeError, match="injected"):
            cb(batches[1], 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert time.monotonic() - t0 < 30
    # job ends reach the status store through the listener bus
    deadline = time.monotonic() + 10
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert tracker.getActiveJobsIds() == []
    drill_jobs = [tracker.getJobInfo(j)
                  for j in tracker.getJobIdsForGroup("par_actions_drill")]
    assert any(j is not None and j.status == "FAILED"
               for j in drill_jobs), drill_jobs

    for bid in (1, 2, 3):
        cb(batches[bid], bid)
    assert final(out_dir) == final(clean_dir)
