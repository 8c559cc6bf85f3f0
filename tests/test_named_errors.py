"""Conventions that are enforced as named errors, one trigger each
(ROADMAP aim 3: fail loudly and early)."""

import re

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


def test_second_registration_of_a_name_is_rejected():
    """Registering a name the catalog already holds raises instead of
    silently replacing the first query."""
    fns = registry.query_fns()
    assert len(fns) == 360
    with pytest.raises(registry.DuplicateQueryError) as err:
        registry.register("q1_pricing_summary")(lambda spark, sf_dir: None)
    assert err.value.name == "q1_pricing_summary"
    assert registry.query_fns()["q1_pricing_summary"] is fns[
        "q1_pricing_summary"]


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



def _matching_paren(text, i):
    """Index just past the ``)`` closing the ``(`` at ``text[i - 1]``,
    or None if it never closes."""
    depth = 1
    for k in range(i, len(text)):
        depth += {"(": 1, ")": -1}.get(text[k], 0)
        if depth == 0:
            return k + 1
    return None


_ABS_FLOOR = re.compile(r"F\.floor\(\s*F\.abs\(|FLOOR\(ABS\("
                        r"|np\.floor\(\s*np\.abs\(")
_TIMES_100 = re.compile(r"\s*\*\s*100\.0\s*\+")
_END = re.compile(r"\bEND\b")
_END_SCALED = re.compile(r"END\s*/\s*10+\.0\s*\+\s*0\.0")


def _half_up_copies(text):
    """Offsets of hand-written half-up kernels in ``text``: a floor of
    an ``abs`` that is scaled ``* 100.0 +`` (the cents kernel), or a
    ``FLOOR(ABS(`` whose next ``END`` reads ``END / 10^s.0 + 0.0`` (an
    expanded ``sql_round_half_up``)."""
    for m in _ABS_FLOOR.finditer(text):
        k = _matching_paren(text, m.end())
        if k is None:
            continue
        end = _END.search(text, k)
        if (_TIMES_100.match(text, k)
                or end and _END_SCALED.match(text, end.start())):
            yield m.start()


def test_half_up_kernels_are_written_once():
    """Outside ``functions/scalars.py`` no package source spells the
    half-up kernel by hand: the cents form is ``half_up_cents`` /
    ``sql_half_up_cents`` / ``cents_half_up(_vec)``, and a rounded
    oracle column calls ``sql_round_half_up``. a32's scale-0 rounding
    (``FLOOR(ABS(x) + 0.5)``, cast to BIGINT) is neither form."""
    import pathlib

    import stock_data_warehouse_spark as pkg
    root = pathlib.Path(pkg.__file__).parent
    copies = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "functions" / "scalars.py":
            continue
        text = path.read_text()
        copies += [(str(path.relative_to(root.parent)),
                    text.count("\n", 0, at) + 1)
                   for at in _half_up_copies(text)]
    assert not copies, copies
