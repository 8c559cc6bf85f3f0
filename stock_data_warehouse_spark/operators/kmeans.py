"""Lloyd's k-means over an embedding column — the trainer behind a
production IVF index (plans/extensions.x3_ivf_topk uses seeded medoids
precisely so its query stays oracle-checkable; this operator is the
path that replaces those medoids with learned centroids).

Scale posture (100 TB):

- ONE round loop (:func:`_lloyd`) for every mode. The codebook lives
  on the driver as ``{(grp, cell): vec}`` — G×K×dim doubles, a few MB
  for any sane K — and re-enters plans as a zero-job VALUES literal.
  Each round asks a *step* for per-cell sums, counts and the training
  inertia, then sets each centroid to sums/count; a cell with no
  members drops out.
- Sampled mode (``train_sample=S``, the FAISS ``train()`` posture)
  steps with local numpy over one bounded hash-order collect.
  Exhaustive mode steps with ONE Spark aggregate per round over the
  whole relation: an argmin against the codebook inlined as a literal
  (no join, no broadcast), then a per-(grp, cell, pos) sum that partial-aggregates map-side, so only
  G×K×(dim+1) rows reach the driver. The lineage never grows across
  rounds, so no round checkpoints.
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

from itertools import groupby

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import ckpt
from .vectors import l2sq


class SampleIdUniverseError(ValueError):
    """The groups of a sampled ``kmeans_fit_assign_grouped`` carry
    different id sets, so the shared hash-min seeds would not exist in
    every group."""


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


def _hash_prefix_rows(v: DataFrame, n: int, grouped: bool) -> list:
    """``[(grp, id, e), ...]`` for the first ``n`` ids of the hash
    order — one bounded collect. Ungrouped ids are unique, so a plain
    partial top-n suffices; grouped relations pick the ids once over
    distinct ids and broadcast them back, so every group contributes
    the same ids (its subvector of each)."""
    if grouped:
        ids = v.select("id").distinct().orderBy(*_hash_order()).limit(n)
        pre = v.join(F.broadcast(ids), "id")
    else:
        pre = v.orderBy(*_hash_order()).limit(n)
    return [(r["grp"], r["id"], r["e"]) for r in pre.collect()]


def _seed_codebook(rows: list, k: int) -> dict:
    """``{(grp, cell): vec}`` from ``rows``' ``k`` hash-min ids: cell
    ordinals are those ids sorted ascending, the same in every group."""
    import numpy as np

    seed_ids = sorted(sorted({i for _g, i, _e in rows},
                             key=_hash_key)[:k])
    cell = {i: c for c, i in enumerate(seed_ids)}
    return {(g, cell[i]): np.asarray(e, dtype=np.float64)
            for g, i, e in rows if i in cell}


def _lloyd(cents: dict, step, n_iter: int) -> tuple[dict, list]:
    """The round loop of every k-means mode. ``step(cents)`` returns
    ``(sums, counts, inertia)`` keyed like ``cents``; the inertia is
    the training set's squared distance to the round's STARTING
    centroids, so the returned per-round list is Lloyd's
    non-increasing sequence."""
    inertias = []
    for _ in range(n_iter):
        sums, counts, inertia = step(cents)
        inertias.append(inertia)
        cents = {key: sums[key] / counts[key]
                 for key in sorted(sums) if counts[key]}
    return cents, inertias


def _sample_step(rows: list):
    """Step over a collected sample, driver-side numpy. Per group the
    members are pinned id-ascending, so ``members.sum(axis=0) / n`` is
    the bits of ``members.mean(axis=0)`` and run-to-run deterministic;
    assignment ties break toward the lower cell."""
    import numpy as np

    by_grp: dict = {}
    for g, i, e in rows:
        by_grp.setdefault(g, []).append((i, e))
    xs = {g: np.asarray([e for _i, e in sorted(r, key=lambda t: t[0])],
                        dtype=np.float64)
          for g, r in sorted(by_grp.items())}

    def step(cents):
        sums, counts, inertia = {}, {}, 0.0
        for g, x in xs.items():
            cells = sorted(c for gc, c in cents if gc == g)
            cm = np.asarray([cents[g, c] for c in cells])
            # d2[i, c]: squared distance of row i to live centroid c
            d2 = ((x[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)          # ties -> first (lowest cell)
            inertia += float(d2[np.arange(len(x)), a].sum())
            for ci, c in enumerate(cells):
                members = x[a == ci]
                sums[g, c] = members.sum(axis=0)
                counts[g, c] = len(members)
        return sums, counts, inertia
    return step


def _spark_step(v: DataFrame, grp_type: str):
    """Step over the whole relation: ONE aggregate per round. Every
    vector takes its nearest cell (:func:`_argmin_assign`, a
    projection), and one group-by over ``posexplode(concat(
    array(sq_dist), e))`` sums the distance (pos 0) and each dimension
    per cell, map-side first — G×K×(dim+1) rows reach the driver."""
    import numpy as np

    def step(cents):
        parts = (_argmin_assign(v, cents, grp_type)
                 .select("grp", "cell", F.posexplode(F.concat(
                     F.array("sq_dist"), "e")).alias("pos", "val"))
                 .groupBy("grp", "cell", "pos")
                 .agg(F.sum("val").alias("s"),
                      F.count(F.lit(1)).alias("n"))
                 .collect())
        by_cell: dict = {}
        for r in parts:
            by_cell.setdefault((r["grp"], r["cell"]), {})[r["pos"]] = r
        sums, counts, inertia = {}, {}, 0.0
        for key in sorted(by_cell):
            p = by_cell[key]
            inertia += p[0]["s"]
            counts[key] = p[0]["n"]
            sums[key] = np.asarray([p[d]["s"] for d in range(1, len(p))],
                                   dtype=np.float64)
        return sums, counts, inertia
    return step


def _grp_sql(g, grp_type: str) -> str:
    # a string/decimal group key would silently truncate or raise an
    # unnamed ValueError — fail loudly with the actual requirement
    try:
        ok = int(g) == g
    except (TypeError, ValueError):
        ok = False
    if not ok:
        raise ValueError(f"kmeans requires integral group keys; got "
                         f"{g!r} for a {grp_type} column")
    return f"CAST({int(g)} AS {grp_type})"


def _vec_sql(vec) -> str:
    """A trained vector as an ``ARRAY<DOUBLE>`` literal. Doubles are
    emitted as ``CAST('<repr>' AS DOUBLE)``: Python ``repr``
    round-trips the exact IEEE double and Spark's string→double parse
    is nearest-value, so the literal carries the trained bits
    unchanged."""
    return ("array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)"
                                for x in vec) + ")")


def _codebook_df(spark, cents: dict, grp_type: str) -> DataFrame:
    """The codebook ``{(grp, cell): vec}`` as ONE SQL VALUES relation
    ``(grp, cell, ce)`` (LocalRelation — the values_df discipline from
    sources/tables.py; ``createDataFrame`` would route a Python RDD
    through pickle and spawn workers per action)."""
    if not cents:
        # an empty VALUES body is a SQL parse error at plan-build
        # time — name the real cause instead
        raise ValueError(
            "k-means produced no centroids to emit (empty training "
            "relation, or every cell degenerated to zero members)")
    body = ",".join(f"({_grp_sql(g, grp_type)},{c},{_vec_sql(vec)})"
                    for (g, c), vec in sorted(cents.items()))
    return spark.sql("SELECT col1 AS grp, col2 AS cell, col3 AS ce "
                     f"FROM (VALUES {body})")


def _argmin_assign(v: DataFrame, cents: dict,
                   grp_type: str) -> DataFrame:
    """``v`` plus each vector's nearest ``cell`` and its ``sq_dist``,
    as ONE projection: the codebook rides in the plan as a literal map
    ``grp → array<(cell, ce)>`` (G×K×dim doubles, bounded like the
    codebook itself), and ``array_min`` over ``struct(d2, cell)``
    picks the winner — lexicographic struct order IS the (d2 ASC,
    cell ASC) tiebreak, and d2 is computed ONCE per candidate. No
    join, no broadcast job and no shuffle: the vectors never leave
    their partitions. A group absent from the codebook assigns
    nothing."""
    book = ",".join(
        f"{_grp_sql(g, grp_type)}, array(" + ",".join(
            f"named_struct('cell', {c}, 'ce', {_vec_sql(cents[g, c])})"
            for _g, c in keys) + ")"
        for g, keys in groupby(sorted(cents), key=lambda gc: gc[0]))
    cands = F.element_at(F.expr(f"map({book})"), F.col("grp"))
    best = F.array_min(F.transform(cands, lambda c: F.struct(
        l2sq(F.col("e"), c["ce"]).alias("d2"),
        c["cell"].alias("cell"))))
    return (v.withColumn("_b", best).filter(F.col("_b").isNotNull())
             .select(*v.columns, F.col("_b.cell").alias("cell"),
                     F.col("_b.d2").alias("sq_dist")))


def _fit_assign(v: DataFrame, grouped: bool, k: int, n_iter: int,
                train_sample: int | None, inertia_log: list | None,
                assign: bool, sample_rows: list | None
                ) -> tuple[DataFrame | None, DataFrame]:
    """Body of both public trainers over ``v = (grp, id, e)``: seed,
    run :func:`_lloyd` with the step ``train_sample`` selects, emit
    the codebook and the inertia log as literals, then assign the full
    relation once."""
    spark = v.sparkSession
    grp_type = dict(v.dtypes)["grp"]
    if train_sample is None:
        rows = _hash_prefix_rows(v, k, grouped)
        step = _spark_step(v, grp_type)
    else:
        rows = (sample_rows if sample_rows is not None
                else _hash_prefix_rows(v, train_sample, grouped))
        id_sets: dict = {}
        for g, i, _e in rows:
            id_sets.setdefault(g, set()).add(i)
        if len({frozenset(ids) for ids in id_sets.values()}) > 1:
            sizes = {g: len(ids) for g, ids in sorted(id_sets.items())}
            raise SampleIdUniverseError(
                f"sampled groups carry different id sets (ids per "
                f"group: {sizes})")
        step = _sample_step(rows)
    cents, inertias = _lloyd(_seed_codebook(rows, k), step, n_iter)
    centroids = _codebook_df(spark, cents, grp_type)
    if inertia_log is not None:
        # VALUES literals: reading one back (collect/first) runs no job
        for it, val in enumerate(inertias):
            inertia_log.append(spark.sql(
                f"SELECT col1 AS it, col2 AS inertia FROM (VALUES "
                f"({it}, CAST('{float(val)!r}' AS DOUBLE)))"))
    if not assign:
        return None, centroids
    # ONE full-relation assignment against the trained centroids; the
    # result is consumed several times downstream (completeness,
    # inertia, code joins) — truncate its lineage once
    final = _argmin_assign(v, cents, grp_type)
    return ckpt(final.select("grp", "id", "cell", "sq_dist")), centroids


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
    under the final trained centroids and squared distance to it. This
    is :func:`kmeans_fit_assign_grouped` with a single group.

    ``train_sample=S`` is the FAISS-style scale posture: the round
    loop sees only the first S vectors of the deterministic hash order
    (one bounded TakeOrdered collect — k-means needs ~100·K training
    points, not the corpus) and runs driver-side in numpy; the full
    relation is assigned ONCE against the trained centroids. Training
    cost becomes O(n_iter · S · K) + one full assignment pass instead
    of O(n_iter · N · K). ``train_sample=None`` trains on everything
    (the exhaustive form): each round is one distributed aggregate job
    over the input relation, which is re-read per round.

    ``sample_rows`` (only with ``train_sample``): the caller supplies
    the ``[(id, [float, ...]), ...]`` hash-order prefix itself instead
    of this function collecting it — for callers that train SEVERAL
    estimators off one train set (the IVF-PQ builders run a coarse
    trainer AND a grouped subspace trainer) and can serve every
    trainer from ONE collect. Must be exactly the first
    ``train_sample`` rows of the (md5(id), id) order — equivalence
    pinned by tests/test_operators.py::
    test_kmeans_sample_rows_equivalence.

    ``inertia_log``, if a list, receives one 1-row DataFrame
    ``(it, inertia)`` per iteration — total squared distance of the
    TRAINING set to the centroids the iteration started from. Lloyd's
    guarantees the sequence non-increasing; callers use it for the
    monotonicity verdict without re-training a shorter twin.

    ``centroids_log``, if a list, receives the final trained
    ``(cell, ce)`` centroid relation (K rows, a VALUES literal) —
    callers that need the centroids themselves (residual PQ encodes
    ``vec − centroid(cell)``, streaming ingest assigns arrivals against
    a frozen index) read them from here instead of re-deriving.

    ``assign=False`` skips the final full-relation assignment and
    returns None — for callers that only need the trained centroids.
    """
    v = vectors.select(F.lit(0).alias("grp"),
                       F.col(id_col).alias("id"),
                       F.col(vec_col).alias("e"))
    rows = (None if sample_rows is None
            else [(0, i, e) for i, e in sample_rows])
    assigned, centroids = _fit_assign(v, False, k, n_iter, train_sample,
                                      inertia_log, assign, rows)
    if centroids_log is not None:
        centroids_log.append(centroids.select("cell", "ce"))
    return (None if assigned is None
            else assigned.select("id", "cell", "sq_dist"))


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
    simultaneously — each round steps every group at once (one
    map-side argmin against the groups×k codebook literal and, in
    exhaustive mode, one per-(grp, cell, dim) aggregation). Never a
    per-group driver loop: 8 sequential trainers would multiply job
    count by the group cardinality for zero extra parallelism.

    Seeding exploits the PQ structure — every group carries the same
    id universe — so the per-group seeds are the SAME k hash-min ids,
    selected once over distinct ids and collected with every group's
    subvector; cell ordinals 0..k-1 follow the ids sorted ascending.
    ``train_sample=S`` samples IDS the same way (each vector
    contributes one subvector per subspace, so the per-group training
    sets stay aligned), trains driver-side and assigns the full
    relation once at the end, exactly like :func:`kmeans_fit_assign`;
    so do ``assign`` and ``sample_rows`` (here ``[(grp, id, subvec),
    ...]``). ``inertia_log`` receives per-iteration 1-row
    ``(it, inertia)`` totals, summed over groups.

    Sampled mode raises ``SampleIdUniverseError`` when the sampled
    (or caller-supplied ``sample_rows``) groups carry different id
    sets; the check runs driver-side over rows already collected.
    """
    v = vectors.select(F.col(group_col).alias("grp"),
                       F.col(id_col).alias("id"),
                       F.col(vec_col).alias("e"))
    return _fit_assign(v, True, k, n_iter, train_sample, inertia_log,
                       assign, sample_rows)
