"""Output fingerprints for catalog ops, with the row order and value
semantics of ``tools/oracle_check.py`` (``normalize``/``compare``).

A fingerprint hashes the row count, the sorted column names, each
column's kind (integer, float or other) and every value, after
``normalize`` puts columns and rows in canonical order. Floats hash by
``repr``, so two fingerprints match only where ``compare`` reports
``exact``; an integer column never matches a float column.

Derive the expected fingerprints from the registered DuckDB oracles,
checking that Spark's output gives the same ones, and write them next to
this file:

    python3 perfbench/fingerprint.py [op ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected_sf0.1.json")


def fingerprint(pdf) -> dict:
    """``{"rows": n, "sha256": hex}`` of a pandas DataFrame."""
    from tools.oracle_check import normalize

    df = normalize(pdf)
    h = hashlib.sha256(json.dumps([len(df), list(df.columns)]).encode())
    for c in df.columns:
        col = df[c]
        kind = col.dtype.kind
        if kind in "iu":
            tag, vals = "i", col.astype(str)
        elif kind in "fc":
            tag, vals = "f", [repr(float(v)) for v in col.astype(float)]
        else:
            tag, vals = "s", col.astype(str)
        h.update(f"\x1e{c}:{tag}\x1e".encode())
        h.update("\x1f".join(vals).encode())
    return {"rows": int(len(df)), "sha256": h.hexdigest()}


def load_expected() -> dict:
    with open(EXPECTED) as fh:
        return json.load(fh)


def main(names: list[str]) -> int:
    sys.path.insert(0, ROOT)
    os.environ.setdefault("PYTHONPATH", ROOT)
    import __spark_entry__ as entry_mod
    from ig_etl_with_user_reports_2024_spark.operators.dedup import release_eager_pins
    from ig_etl_with_user_reports_2024_spark.session import get_spark
    from tools.oracle_check import compare, duck_connect

    from perfbench.workloads import CATALOG_WORKLOADS, SF_DIR

    names = names or sorted({op for w in CATALOG_WORKLOADS.values() for op in w.ops})
    oracles = entry_mod.oracle_sql()
    con = duck_connect(SF_DIR)
    spark = get_spark("perfbench_fingerprint")
    out = load_expected() if os.path.exists(EXPECTED) else {}
    bad = 0
    for name in names:
        duck = con.execute(oracles[name]).df()
        try:
            mine = entry_mod.queries()[name](spark, SF_DIR).toPandas()
        finally:
            release_eager_pins()
        ok, msg = compare(mine, duck)
        fp = fingerprint(duck)
        same = fingerprint(mine) == fp
        print(f"{name}: {fp['rows']} rows, oracle {msg}, fingerprint "
              f"{'matches' if same else 'DIFFERS'}", flush=True)
        if ok and same:
            out[name] = fp
        else:
            bad += 1
    spark.stop()
    with open(EXPECTED, "w") as fh:
        json.dump(dict(sorted(out.items())), fh, indent=1)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
