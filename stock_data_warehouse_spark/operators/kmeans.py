"""Distributed Lloyd's k-means over an embedding column — the trainer
behind a production IVF index (plans/extensions.x3_ivf_topk uses seeded
medoids precisely so its query stays oracle-checkable; this operator is
the path that replaces those medoids with learned centroids).

Scale posture (100 TB):

- Each iteration is ONE shuffle: assign every vector to its nearest
  centroid (broadcast K×dim centroids — a few MB for any sane K), then
  partial-aggregate per-dimension sums map-side and reduce to K rows.
- Centroids live in the driver only as a K×dim literal (bounded);
  vectors never leave the executors.
- ``ckpt`` per iteration truncates lineage (same discipline
  as operators/graph.py).
- Seeding is the K vectors with the smallest ``md5(id)`` — a
  deterministic pseudo-random spread that plans as a distributed
  partial top-K (``TakeOrderedAndProject``: each partition keeps K
  candidates, the driver merges K×partitions rows). No global sort, no
  single-partition window, no extra count job.
- Determinism: no rand() anywhere, and assignment ties break toward
  the lower centroid id. Across engines the *means* are still
  FP-order-dependent, so k-means results are rows-only territory by
  design — the properties that matter (assignment completeness,
  inertia monotonicity) are tested instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import ckpt


class SampleIdUniverseError(ValueError):
    """The groups of a sampled ``kmeans_fit_assign_grouped`` carry
    different id sets, so the shared hash-min seeds would not exist in
    every group."""


def _sq_dist(a: F.Column, b: F.Column) -> F.Column:
    d = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def _hash_order(id_col: str = "id"):
    """The deterministic pseudo-random total order used for BOTH seeds
    and training samples: (md5(id), id). Seeds are the first K rows of
    it, the training sample the first S — so seeds ⊆ sample for any
    S ≥ K and both plan as distributed partial top-k."""
    return [F.md5(F.col(id_col).cast("string")), F.col(id_col)]


def _hash_key(i) -> tuple:
    """Driver-side twin of :func:`_hash_order` for rows already
    collected: ``(md5(str(id)), id)``. Spark's ``md5(CAST(id AS
    STRING))`` is the lowercase hex digest of the decimal rendering,
    which is exactly ``hashlib.md5(str(id).encode()).hexdigest()`` for
    integer ids — the two orders agree bit-for-bit."""
    import hashlib
    return (hashlib.md5(str(i).encode()).hexdigest(), i)


def _local_lloyd(sample: list, k: int, n_iter: int):
    """Driver-side Lloyd over a BOUNDED training sample — the FAISS
    ``train()`` posture: the sample is a few hundred rows by the
    ~100·K sizing rule, so the iteration loop is local vectorized
    arithmetic instead of ``n_iter`` chained distributed jobs (each of
    which paid a broadcast build plus 2-3 shuffle stages for ≤S rows —
    measured 0.6-1.4 s per trainer at sf0.1, pure scheduling).

    ``sample``: ``[(id, [float, ...]), ...]`` in hash order (seeds are
    the first ``k`` entries). Semantics replicate the distributed
    form exactly: seed cell ordinals = the k hash-min ids sorted
    ascending; assignment ties break toward the lower cell; a cell
    with no members drops out of the codebook (the groupBy-means
    behavior). Returns ``(centroids, inertias)`` with ``centroids`` a
    ``{cell: [float, ...]}`` dict and ``inertias`` the per-round
    training inertia (squared distance to the round's STARTING
    centroids — Lloyd's non-increasing sequence).

    Member order inside a cell is pinned to id-ascending before the
    mean so the result is run-to-run deterministic."""
    import numpy as np

    x = np.asarray([vec for _i, vec in sample], dtype=np.float64)
    order = np.argsort(np.asarray([i for i, _v in sample]),
                       kind="stable")
    x = x[order]
    seed_ids = sorted(i for i, _v in sample[:k])
    by_id = {i: vec for i, vec in sample}
    cents = np.asarray([by_id[i] for i in seed_ids], dtype=np.float64)
    live = list(range(len(seed_ids)))
    inertias = []
    for _ in range(n_iter):
        # d2[i, c]: squared distance of sample row i to live centroid c
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)          # ties -> first (lowest cell)
        inertias.append(float(d2[np.arange(len(x)), a].sum()))
        new_cents, new_live = [], []
        for ci in range(len(live)):
            members = x[a == ci]
            if len(members):
                new_cents.append(members.mean(axis=0))
                new_live.append(live[ci])
        cents = np.asarray(new_cents)
        live = new_live
    return ({cell: [float(v) for v in cents[ci]]
             for ci, cell in enumerate(live)}, inertias)


def _centroids_values_df(spark, rows: list, schema_cols: list) -> DataFrame:
    """Trained centroids as ONE SQL VALUES relation (LocalRelation —
    zero jobs, the values_df discipline from sources/tables.py;
    ``createDataFrame`` would route a Python RDD through pickle and
    spawn workers per action). Doubles are emitted as
    ``CAST('<repr>' AS DOUBLE)``: Python ``repr`` round-trips the
    exact IEEE double and Spark's string→double parse is
    nearest-value, so the literal relation carries the trained bits
    unchanged. ``rows`` are tuples matching ``schema_cols`` =
    ``[(name, sql_type), ...]`` where the last column is the
    ``ARRAY<DOUBLE>`` centroid."""
    if not rows:
        # ADVICE r15: an empty VALUES body is a SQL parse error at
        # plan-build time — name the real cause instead
        raise ValueError(
            "k-means produced no centroids to emit (empty training "
            "relation, or every cell degenerated to zero members)")

    def lit(v, typ):
        if typ == "array<double>":
            return ("array(" + ",".join(
                f"CAST('{float(x)!r}' AS DOUBLE)" for x in v) + ")")
        # ADVICE r15: non-array columns (grp/cell) are emitted as
        # integer literals; a string/decimal group key would silently
        # truncate or raise an unnamed ValueError — fail loudly with
        # the operator's actual requirement instead
        try:
            iv = int(v)
            ok = iv == v
        except (TypeError, ValueError):
            ok = False
        if not ok:
            raise ValueError(
                f"kmeans sampled mode requires integral group/cell "
                f"keys; got {v!r} for a {typ} column")
        return f"CAST({iv} AS {typ})"

    body = ",".join(
        "(" + ",".join(lit(v, t) for v, (_n, t) in zip(r, schema_cols))
        + ")" for r in rows)
    names = ",".join(
        f"col{i + 1} AS {n}" for i, (n, _t) in enumerate(schema_cols))
    return spark.sql(f"SELECT {names} FROM (VALUES {body})")


def _argmin_assign(v: DataFrame, centroids: DataFrame,
                   keys: list[str],
                   keep_vec: bool = True) -> DataFrame:
    """Nearest-centroid assignment via ``min(struct(d2, cell))``:
    lexicographic struct order IS the (d2 ASC, cell ASC) tiebreak, and
    the aggregation combines map-side — K candidate rows per vector
    collapse before the exchange, where a sort-window would shuffle and
    sort all K×N rows. d2 is computed ONCE per candidate (a window form
    evaluates the fold twice: ordering + projection).

    ``keep_vec=True`` carries the vector through the SAME aggregation
    as ``first(e)`` — every candidate row of a key holds the identical
    ``e`` (the broadcast replicates centroids, not vectors), so
    ``first`` is deterministic by value and partial aggregation
    collapses the K candidates map-side; the r14 form joined back to
    ``v`` instead, which shuffled the vectors a second time (2 N-row
    exchanges per assignment instead of 1 — guide §2.3/§2.4).
    ``keep_vec=False`` (the final corpus pass, which only needs
    ``(keys, cell, sq_dist)``) drops the vector before the exchange:
    the embedding bytes never cross the network at all."""
    join_keys = [k for k in keys if k != "id"]
    scored = (v.join(F.broadcast(centroids), join_keys)
              if join_keys else v.crossJoin(F.broadcast(centroids)))
    scored = scored.withColumn("d2", _sq_dist(F.col("e"), F.col("ce")))
    aggs = [F.min(F.struct("d2", "cell")).alias("b")]
    if keep_vec:
        aggs.append(F.first("e").alias("e"))
    best = scored.groupBy(*keys).agg(*aggs)
    cols = ["e"] if keep_vec else []
    return best.select(*keys, *cols, F.col("b.cell").alias("cell"),
                       F.col("b.d2").alias("sq_dist"))


def kmeans_fit_assign(vectors: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "e", k: int = 8,
                      n_iter: int = 5,
                      train_sample: int | None = None,
                      inertia_log: list | None = None,
                      centroids_log: list | None = None,
                      assign: bool = True,
                      sample_rows: list | None = None
                      ) -> DataFrame | None:
    """Run ``n_iter`` Lloyd iterations from hash-min medoid seeds and
    return ``(id, cell, sq_dist)`` — every vector with its cluster
    under the final trained centroids and squared distance to it.

    ``train_sample=S`` is the FAISS-style scale posture: the iteration
    loop sees only the first S vectors of the deterministic hash order
    (a bounded TakeOrdered sample — k-means needs ~100·K training
    points, not the corpus), and the full relation is assigned ONCE
    against the trained centroids. Training cost becomes
    O(n_iter · S · K) + one full assignment pass instead of
    O(n_iter · N · K) — at 100 TB that is the difference between a
    constant-size training job and n_iter full-corpus passes.
    ``train_sample=None`` trains on everything (the exhaustive form).

    ``inertia_log``, if a list, receives one 1-row DataFrame
    ``(it, inertia)`` per iteration — total squared distance of the
    TRAINING set to the centroids the iteration started from. Lloyd's
    guarantees the sequence non-increasing; callers use it for the
    monotonicity verdict without re-training a shorter twin.

    ``centroids_log``, if a list, receives the final trained
    ``(cell, ce)`` centroid relation (K rows, already checkpointed) —
    callers that need the centroids themselves (residual PQ encodes
    ``vec − centroid(cell)``, streaming ingest assigns arrivals against
    a frozen index) read them from here instead of re-deriving.

    The per-iteration plan: broadcast the K centroids as a literal
    relation (K is bounded), map-side argmin via ``min(struct)``, then
    ``posexplode`` the vectors and hash-aggregate per (cell, dim) to
    rebuild centroids — partial aggregation keeps the shuffle at
    K×dim×partitions rows.

    Sampled-mode execution (r15, guide §1.2 — fix the distributed
    algorithm before per-task work): with a TRAINING SAMPLE the
    iteration loop runs DRIVER-SIDE over the collected ≤S-row sample
    (:func:`_local_lloyd` — the FAISS ``train()`` posture: one bounded
    TakeOrdered collect, local vectorized Lloyd, centroids re-emitted
    as a zero-job VALUES literal). The r14 form ran every round as a
    chained distributed job over those same ≤S rows — a broadcast
    build plus 2-3 shuffle stages per round of pure scheduling
    overhead (measured 0.6-1.4 s per trainer at sf0.1), and an eager
    ``ckpt`` round-trip per round on top. The collect is
    control-plane-bounded by the ~100·K sizing rule (the same class
    as the staircase band-id collects), never corpus-sized, and the
    full-relation assignment stays distributed. Exhaustive mode
    (``train_sample=None``) keeps the r14 discipline unchanged: every
    round runs distributed over the full relation with per-round
    checkpoints truncating the lineage.

    ``assign=False`` skips the final full-relation assignment and
    returns None — for callers that only need the trained centroids
    (via ``centroids_log``): the r14 form always ran and materialized
    a full assignment pass that e.g. the ingest path immediately
    discarded (it re-assigns through its own encode plans).
    """
    spark = vectors.sparkSession
    v = vectors.select(F.col(id_col).alias("id"),
                       F.col(vec_col).alias("e"))
    if train_sample is not None:
        # sample_rows (r16, guide §2.4 — only with train_sample): the
        # caller supplies the [(id, [float, ...]), ...] hash-order
        # prefix itself instead of this function collecting it — for
        # callers that train SEVERAL estimators off one train set
        # (the IVF-PQ builders run a coarse trainer AND a grouped
        # subspace trainer) and can serve every trainer from ONE
        # TakeOrdered collect. Must be exactly the first train_sample
        # rows of the (md5(id), id) order this function would have
        # collected — equivalence pinned by tests/test_operators.py::
        # test_kmeans_sample_rows_equivalence.
        sample = (sample_rows if sample_rows is not None
                  else [(r["id"], r["e"]) for r in
                        v.orderBy(*_hash_order()).limit(train_sample)
                         .collect()])
        cents, inertias = _local_lloyd(sample, k, n_iter)
        centroids = _centroids_values_df(
            spark, sorted(cents.items()),
            [("cell", "INT"), ("ce", "array<double>")])
        if inertia_log is not None:
            for it, val in enumerate(inertias):
                inertia_log.append(spark.range(1).select(
                    F.lit(it).alias("it"),
                    F.lit(val).cast("double").alias("inertia")))
    else:
        v = ckpt(v)
        vt = v
        # Seeds: the k vectors with the smallest md5(id) — the
        # hash-order prefix.
        seeds = vt.orderBy(*_hash_order()).limit(k)
        centroids = ckpt(seeds
                         .agg(F.array_sort(
                             F.collect_list(F.struct("id", "e")))
                              .alias("se"))
                         .select(F.posexplode(
                             F.transform("se", lambda s: s["e"]))
                             .alias("cell", "ce")))
        for it in range(n_iter):
            assigned = _argmin_assign(vt, centroids, ["id"])
            if inertia_log is not None:
                assigned = ckpt(assigned)
                inertia_log.append(assigned.agg(
                    F.lit(it).alias("it"),
                    F.sum("sq_dist").alias("inertia")))
            # rebuild: per-(cell, dim) mean via posexplode + hash agg
            dims = assigned.select(
                "cell", F.posexplode("e").alias("dim", "val"))
            means = (dims.groupBy("cell", "dim")
                         .agg(F.avg("val").alias("m"))
                         .groupBy("cell")
                         .agg(F.array_sort(
                             F.collect_list(F.struct("dim", "m")))
                             .alias("dm"))
                         .select("cell",
                                 F.transform("dm", lambda s: s["m"])
                                 .alias("ce")))
            centroids = ckpt(means)
    if centroids_log is not None:
        centroids_log.append(centroids)
    if not assign:
        return None
    # ONE full-relation assignment against the trained centroids; the
    # result is consumed several times downstream (completeness,
    # inertia, code joins) — truncate its lineage once. keep_vec=False:
    # the corpus-wide pass shuffles (id, cell, d2), never the vectors.
    final = _argmin_assign(v, centroids, ["id"], keep_vec=False)
    return ckpt(final.select("id", "cell", "sq_dist"))


def kmeans_fit_assign_grouped(vectors: DataFrame, group_col: str = "j",
                              id_col: str = "vec_id",
                              vec_col: str = "sv", k: int = 8,
                              n_iter: int = 3,
                              train_sample: int | None = None,
                              inertia_log: list | None = None,
                              assign: bool = True,
                              sample_rows: list | None = None,
                              ) -> tuple[DataFrame | None, DataFrame]:
    """Train an INDEPENDENT k-means codebook per group — all groups in
    the same jobs — and return ``(assigned, centroids)``:
    ``assigned = (grp, id, cell, sq_dist)`` and
    ``centroids = (grp, cell, ce)``.

    This is the per-subspace trainer of a product-quantization index
    (plans/extensions.x3_ivfpq_learned): with ``group_col`` = the PQ
    subspace ordinal, one invocation learns all 8 codebooks
    simultaneously — per iteration ONE broadcast of the groups×k
    centroid table (bounded: e.g. 8×32 rows), ONE map-side argmin
    (min(struct), same shape as :func:`kmeans_fit_assign`), and ONE
    per-(grp, cell, dim) hash aggregation. Never a per-group driver
    loop: 8 sequential trainers would multiply job count by the group
    cardinality for zero extra parallelism.

    ``train_sample=S`` samples IDS (the same S hash-min ids for every
    group — each vector contributes one subvector per subspace, so the
    per-group training sets stay aligned) and assigns the full
    relation once at the end; ``inertia_log`` receives per-iteration
    1-row (it, inertia) totals over the training set, exactly like the
    ungrouped trainer.

    Seeding exploits the PQ structure — every group carries the same
    id universe — so the per-group seeds are the SAME k hash-min ids,
    selected once via a distributed partial top-k over distinct ids
    and broadcast back; cell ordinals 0..k-1 come from the sorted
    k-row seed list (bounded collect_list, never the full data).
    Determinism matches :func:`kmeans_fit_assign`: md5 seeding,
    (cell) argmin tiebreak.

    Sampled-mode execution and ``assign`` match
    :func:`kmeans_fit_assign` (r15): the sampled ids' subvectors —
    bounded at S×groups rows by the ~100·K sizing rule — are
    collected once and every group's codebook trains driver-side in
    one pass of local vectorized Lloyd (:func:`_local_lloyd` per
    group, same seeds, same tiebreaks, independent groups exactly
    like the distributed form); the trained groups×k codebook
    re-enters the plan as a zero-job VALUES literal. The r14 form
    paid a broadcast build + 2-3 shuffle stages + an eager ckpt per
    round for those same ≤S×groups rows. Per-round inertia is the
    SUM over groups of the per-group training inertia — identical to
    the distributed form's ungrouped total.

    Sampled mode raises ``SampleIdUniverseError`` when the sampled
    (or caller-supplied ``sample_rows``) groups carry different id
    sets; the check runs driver-side over rows already collected.
    """
    spark = vectors.sparkSession
    v = vectors.select(F.col(group_col).alias("grp"),
                       F.col(id_col).alias("id"),
                       F.col(vec_col).alias("e"))
    if train_sample is not None:
        grp_type = dict(v.dtypes)["grp"]
        # sample_rows (r16): caller-supplied [(grp, id, subvec), ...]
        # for the SAME train_sample hash-min ids this branch would
        # sample itself (the shared-id-universe property both forms
        # rely on) — one collect serves every trainer of a composite
        # index build. Equivalence pinned by tests/test_operators.py.
        if sample_rows is not None:
            rows = sample_rows
        else:
            train_ids = (v.select("id").distinct()
                          .orderBy(*_hash_order())
                          .limit(train_sample))
            rows = [(r["grp"], r["id"], r["e"]) for r in
                    v.join(F.broadcast(train_ids), "id").collect()]
        by_grp: dict = {}
        for g, i, e in rows:
            by_grp.setdefault(g, []).append((i, e))
        id_sets = {g: {i for i, _e in r} for g, r in by_grp.items()}
        if len({frozenset(ids) for ids in id_sets.values()}) > 1:
            sizes = {g: len(ids) for g, ids in sorted(id_sets.items())}
            raise SampleIdUniverseError(
                f"sampled groups carry different id sets (ids per "
                f"group: {sizes})")
        # the SAME k hash-min ids seed every group (the shared-id-
        # universe property); _hash_key is the driver twin of the
        # distributed (md5(id), id) order
        cents_rows: list = []
        per_round: dict = {}
        for g in sorted(by_grp):
            sample = sorted(by_grp[g], key=lambda t: _hash_key(t[0]))
            cents, inertias = _local_lloyd(sample, k, n_iter)
            for cell, ce in sorted(cents.items()):
                cents_rows.append((g, cell, ce))
            for it, val in enumerate(inertias):
                per_round[it] = per_round.get(it, 0.0) + val
        centroids = _centroids_values_df(
            spark, cents_rows,
            [("grp", grp_type), ("cell", "INT"),
             ("ce", "array<double>")])
        if inertia_log is not None:
            for it in sorted(per_round):
                inertia_log.append(spark.range(1).select(
                    F.lit(it).alias("it"),
                    F.lit(per_round[it]).cast("double")
                     .alias("inertia")))
    else:
        v = ckpt(v)
        vt = v
        seed_pool = v.select("id").distinct()
        seed_ids = seed_pool.orderBy(*_hash_order()).limit(k)
        seed_cells = (seed_ids
                      .agg(F.array_sort(F.collect_list("id"))
                            .alias("a"))
                      .select(F.posexplode("a").alias("cell", "sid")))
        centroids = ckpt(vt.join(F.broadcast(seed_cells),
                                 vt.id == seed_cells.sid)
                           .select("grp", "cell",
                                   F.col("e").alias("ce")))
        for it in range(n_iter):
            assigned = _argmin_assign(vt, centroids, ["grp", "id"])
            if inertia_log is not None:
                assigned = ckpt(assigned)
                inertia_log.append(assigned.agg(
                    F.lit(it).alias("it"),
                    F.sum("sq_dist").alias("inertia")))
            dims = assigned.select(
                "grp", "cell", F.posexplode("e").alias("dim", "val"))
            means = (dims.groupBy("grp", "cell", "dim")
                         .agg(F.avg("val").alias("m"))
                         .groupBy("grp", "cell")
                         .agg(F.array_sort(
                             F.collect_list(F.struct("dim", "m")))
                             .alias("dm"))
                         .select("grp", "cell",
                                 F.transform("dm", lambda s: s["m"])
                                 .alias("ce")))
            centroids = ckpt(means)
    if not assign:
        return None, centroids
    final = _argmin_assign(v, centroids, ["grp", "id"],
                           keep_vec=False)
    return (ckpt(final.select("grp", "id", "cell", "sq_dist")),
            centroids)
