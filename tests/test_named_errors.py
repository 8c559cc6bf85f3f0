"""Conventions that are enforced as named errors, one trigger each
(ROADMAP aim 3: fail loudly and early)."""

import pytest
from pyspark.sql import functions as F

from stock_data_warehouse_spark.operators import staircase
from stock_data_warehouse_spark.operators.kmeans import (
    SampleIdUniverseError, kmeans_fit_assign_grouped,
)
from stock_data_warehouse_spark.operators.staircase import (
    STATE_BAND_CAP, BandStateTooLargeError, state_exact_quantiles,
)
from stock_data_warehouse_spark.plans import registry
from stock_data_warehouse_spark.streaming.jobs import (
    OrdinalMarkerError, RefereeSchemaError, _multiset_eq,
    _ord_from_marker,
)


def _band_stats(spark, n_bands):
    return spark.range(n_bands).select(
        F.col("id").alias("_qb"), F.lit(1).cast("long").alias("_bn"),
        F.col("id").cast("double").alias("_bmin"),
        F.col("id").cast("double").alias("_bmax"))


def _no_store(band_ids):
    raise AssertionError("single-valued bands need no store read")


def test_state_quantiles_collect_is_capped(spark):
    """One band past the cap raises instead of collecting a
    data-sized relation to the driver."""
    with pytest.raises(BandStateTooLargeError):
        state_exact_quantiles(_band_stats(spark, STATE_BAND_CAP + 1),
                              _no_store, "value", [0.5])


def test_state_quantiles_at_the_cap_still_answers(spark, monkeypatch):
    monkeypatch.setattr(staircase, "STATE_BAND_CAP", 8)
    row = state_exact_quantiles(_band_stats(spark, 8), _no_store,
                                "value", [0.0, 0.5, 1.0]).collect()[0]
    assert (row["n"], row["q0"], row["q1"], row["q2"]) == (
        8, 0.0, 3.5, 7.0)
    with pytest.raises(BandStateTooLargeError):
        state_exact_quantiles(_band_stats(spark, 9), _no_store,
                              "value", [0.5])


def test_referee_rejects_unequal_column_sets(spark):
    """Comparing a relation with a projection of it would check only
    the shared columns and pass in silence."""
    a = spark.range(5).select("id", (F.col("id") * 2).alias("v"))
    with pytest.raises(RefereeSchemaError):
        _multiset_eq(a, a.select("id"), "same")
    # column order does not matter, only the set
    assert _multiset_eq(a, a.select("v", "id"), "same").first()["same"]
    assert not _multiset_eq(a, a.filter("id > 0"), "same").first()["same"]


def test_catalog_import_failure_is_named(monkeypatch):
    """A plan module that fails to import stops the catalog load
    instead of dropping its queries in silence."""
    monkeypatch.setattr(registry, "_PLAN_MODULES",
                        registry._PLAN_MODULES + ("no_such_module",))
    monkeypatch.setattr(registry, "_LOADED", False)
    with pytest.raises(registry.CatalogImportError) as err:
        registry._load_all()
    assert err.value.name.endswith(".no_such_module")
    assert isinstance(err.value.__cause__, ModuleNotFoundError)


def test_state_dir_with_two_ordinal_markers_is_rejected(spark,
                                                        tmp_path):
    d = tmp_path / "b3"
    d.mkdir()
    assert _ord_from_marker(str(d)) is None  # no marker: fallback
    (d / "_ORD_2").touch()
    assert _ord_from_marker(str(d)) == 2
    (d / "_ORD_3").touch()
    with pytest.raises(OrdinalMarkerError):
        _ord_from_marker(str(d))


def test_grouped_kmeans_sample_groups_share_one_id_universe(spark):
    """Sampled grouped k-means seeds every group with the same hash-min
    ids; a group missing one of them is rejected before training."""
    vecs = spark.createDataFrame([(0, 1, [0.0, 1.0])],
                                 "j int, vec_id long, sv array<double>")
    rows = [(0, 1, [0.0, 1.0]), (0, 2, [1.0, 0.0]),
            (1, 1, [0.0, 1.0]), (1, 3, [1.0, 1.0])]
    with pytest.raises(SampleIdUniverseError):
        kmeans_fit_assign_grouped(vecs, "j", "vec_id", "sv", k=1,
                                  n_iter=1, train_sample=2,
                                  assign=False, sample_rows=rows)
    shared = rows[:2] + [(1, 1, [0.0, 1.0]), (1, 2, [1.0, 1.0])]
    _, cb = kmeans_fit_assign_grouped(vecs, "j", "vec_id", "sv", k=1,
                                      n_iter=1, train_sample=2,
                                      assign=False, sample_rows=shared)
    assert sorted(r["grp"] for r in cb.collect()) == [0, 1]


def _package_modules():
    """``(dotted module name, parsed AST, relative path)`` for every
    module of the package."""
    import ast
    import pathlib

    import stock_data_warehouse_spark as pkg
    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root.parent)
        parts = list(rel.with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        yield ".".join(parts), ast.parse(path.read_text()), rel


def _imported_modules(modname, tree, is_pkg):
    """Absolute names of every module ``tree`` imports from, with
    ``from X import name`` also counted as ``X.name``."""
    import ast
    pkg = modname.split(".") if is_pkg else modname.split(".")[:-1]
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            yield from (a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            base = pkg[:len(pkg) - n.level + 1] if n.level else []
            mod = ".".join(base + (n.module.split(".") if n.module
                                   else []))
            yield mod
            yield from (f"{mod}.{a.name}" for a in n.names)


def test_kernels_live_in_operators_and_plans_import_only_the_registry():
    """No module outside ``plans/`` imports a plan module other than
    ``plans.registry`` (a kernel two modules use lives in
    ``operators/``; a referee that needs a registered query gets it
    through ``registry.query_fns()``), and no function outside
    ``operators/`` defines its own ``l2sq``, ``subspaces``,
    ``assign_cells``, ``encode_pq``, ``pack`` (the sign packer),
    ``mean_recall``, ``l2_truth``, ``adc_topk`` or
    ``ivf_train_rows``."""
    import ast
    plans = "stock_data_warehouse_spark.plans"
    bad_imports, bad_defs = [], []
    for modname, tree, rel in _package_modules():
        if not modname.startswith(plans + "."):
            bad_imports += [
                (str(rel), m) for m in _imported_modules(
                    modname, tree, rel.name == "__init__.py")
                if m.startswith(plans + ".")
                and m.split(".")[2] != "registry"]
        if rel.parts[1] != "operators":
            bad_defs += [(str(rel), n.lineno, n.name)
                         for n in ast.walk(tree)
                         if isinstance(n, ast.FunctionDef)
                         and n.name in ("l2sq", "subspaces",
                                        "assign_cells", "encode_pq",
                                        "pack", "mean_recall", "l2_truth",
                                        "adc_topk", "ivf_train_rows")]
    assert not bad_imports, bad_imports
    assert not bad_defs, bad_defs
