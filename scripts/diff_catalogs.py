"""Compare every committed table of two catalog roots by sorted-row hash.

    python scripts/diff_catalogs.py ROOT_A ROOT_B

A table is committed when ``Catalog.exists`` says so (a ``_SUCCESS``-marked
version directory). Each table present in either root is read at its latest
committed snapshot and hashed with ``kgbench/check.snapshot_hash`` (its rows
as canonical JSON, sorted). Prints one line per table and exits 1 if any
table is missing from one root or differs, 2 if a root holds no committed
table, and 0 if all are identical.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def committed_tables(cat) -> list[str]:
    fs, p = cat._fs(cat.root)
    if not fs.exists(p):
        return []
    names = [st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()]
    return sorted(n for n in names if cat.exists(n))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("root_a")
    ap.add_argument("root_b")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, os.path.join(ROOT, "kgbench")]
    from check import snapshot_hash

    from relation_extraction_spark.plans.catalog import Catalog
    from relation_extraction_spark.session import get_spark

    spark = get_spark(app_name="diff-catalogs", master="local[2]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        a, b = Catalog(spark, args.root_a), Catalog(spark, args.root_b)
        ta, tb = committed_tables(a), committed_tables(b)
        if not ta or not tb:
            print("no committed table in "
                  + " or ".join(r for r, t in ((args.root_a, ta), (args.root_b, tb)) if not t))
            return 2
        differ = 0
        for name in sorted(set(ta) | set(tb)):
            if name not in ta or name not in tb:
                status = f"only in {args.root_a if name in ta else args.root_b}"
            elif snapshot_hash(a.read(name)) != snapshot_hash(b.read(name)):
                status = "DIFFERS"
            else:
                status = "identical"
            differ += status != "identical"
            print(f"{name:<24} {status}")
        print(f"{len(set(ta) | set(tb))} tables, {differ} not identical")
    finally:
        spark.stop()
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
