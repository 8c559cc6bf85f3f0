"""Expected answers for every benchmark member, from the DuckDB oracle.

The digests are computed once over the vendored base tables in
``perfbench/data`` and stored in ``perfbench/oracle.json``.  The
benchmark's seeded inputs are row permutations of those tables, so the
answers do not depend on the seed.  Rows are canonicalized by
``tools/check.py``'s ``canon_rows``, the same function the correctness
gate uses, so the two hash identically.

Regenerate after changing a member or an oracle:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
ORACLE_FILE = os.path.join(HERE, "oracle.json")
REGEN_COMMAND = "python3 perfbench/oracle.py"
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


@functools.cache
def _load_check():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tools_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def answer(pdf) -> dict:
    """Row count, sorted column names and the digest of the canonical
    rows of a pandas result."""
    rows = _load_check().canon_rows(pdf)
    cols = sorted(pdf.columns)
    blob = json.dumps([cols, rows], ensure_ascii=False).encode()
    return {"rows": len(rows), "columns": cols,
            "sha256": hashlib.sha256(blob).hexdigest()}


def load() -> dict:
    with open(ORACLE_FILE, encoding="utf-8") as fh:
        return json.load(fh)


def main() -> int:
    import duckdb

    sys.path.insert(0, ROOT)
    from run import WORKLOADS, SMOKE_MEMBERS  # noqa: E402
    from stock_data_warehouse_spark.plans.registry import oracle_map

    oracles = oracle_map()
    members = sorted({m for ms in WORKLOADS.values() for m in ms})
    missing = [m for m in members if m not in oracles]
    if missing:
        print(f"members without an oracle: {missing}", file=sys.stderr)
        return 1
    out: dict = {"command": REGEN_COMMAND, "answers": {}}
    scales = {"sf0.01": members, "sf0.001": sorted(SMOKE_MEMBERS.values())}
    for scale, names in scales.items():
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(DATA, scale, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out["answers"][scale] = {
            n: answer(con.execute(oracles[n]).fetchdf()) for n in names}
        con.close()
    with open(ORACLE_FILE, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {ORACLE_FILE}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
