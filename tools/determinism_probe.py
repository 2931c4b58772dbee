"""Partition-order determinism probe for registered keys.

The driver re-executes each key in ITS OWN session; a key whose output
depends on shuffle-partition order (float summation order, un-sorted
collect_list, rank ties broken by arrival) could pass one
pre-verification and still land red in the driver round. This tool runs
each key TWICE in one process — once under the repo-standard
spark.sql.shuffle.partitions=32 and once under a deliberately different
prime (17), which reshuffles every exchange — and compares the
canonicalized results with the same comparator the driver-mirror gate
uses (hive_test_spark.oracle.compare). Hash-stable under both layouts
=> partition-order independence, the determinism property SURVEY §5
promises for every registered key.

Usage:
    python tools/determinism_probe.py [--sf /root/testdata/sf0.01] [key ...]

Default key set: every registered key. Exits non-zero when any key is
layout-dependent or errors, or when the key set is empty (a probe that
checks nothing must not read as stable).
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, ".")

from hive_test_spark.oracle import compare
from hive_test_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    from hive_test_spark.api import queries

    qs = queries()
    keys = args.keys or list(qs)
    if not keys:
        print("no keys to probe")
        return 1
    spark = get_spark("determinism-probe")
    spark.sparkContext.setLogLevel("ERROR")

    n_ok = n_fail = 0
    failures = []
    for key in keys:
        t0 = time.time()
        try:
            # Route through $SPARK_GRAFT_SHUFFLE_PARTITIONS: the registry's
            # wrapper calls tune() before every query build, which
            # (re-)applies session.shuffle_partitions — a bare
            # spark.conf.set here is clobbered before execution (r12 fix:
            # the old conf.set probe never actually ran the second leg
            # under a different layout).
            os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "32"
            a = qs[key](spark, args.sf).toPandas()
            os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "17"
            b = qs[key](spark, args.sf).toPandas()
        except Exception:
            print(f"XX {key}: ERROR\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(key)
            continue
        finally:
            os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        r = compare(key, a, b)
        if r["ok"]:
            n_ok += 1
            print(f"ok {key}: stable across layouts ({len(a)} rows, {time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            failures.append(key)
            print(f"XX {key}: LAYOUT-DEPENDENT — {r['notes']}")

    print(f"\n== {n_ok} stable, {n_fail} fail of {len(keys)}")
    if failures:
        print("failing:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
