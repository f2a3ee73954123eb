"""Wide seed sweep of the aggregate-pushdown fuzz walk in ONE Spark
session (pytest pays ~15 s of JVM startup per seed; this amortizes it).

Usage: python tools/sweep_agg_fuzz.py [first_seed] [n_seeds] [ops]"""

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main():
    first = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    ops = sys.argv[3] if len(sys.argv) > 3 else "10"
    os.environ["SPARK_GRAFT_AGG_FUZZ_OPS"] = ops

    import test_fuzz_agg_pushdown as T
    T.N_OPS = int(ops)
    from incubator_iceberg_spark import Catalog
    from incubator_iceberg_spark.session import get_spark

    spark = get_spark(app_name="agg-fuzz-sweep", master="local[8]",
                      shuffle_partitions=8)
    fails = 0
    for seed in range(first, first + n):
        T.SEED = seed
        for layout_name, part in T.LAYOUTS:
            tmp = tempfile.mkdtemp(prefix="aggfz_")
            try:
                wh = Catalog(os.path.join(tmp, "wh"), spark)
                T.test_fuzz_agg_pushdown_never_wrong(
                    wh, spark, layout_name, part)
                print(f"seed {seed} {layout_name}: OK", flush=True)
            except Exception as ex:
                fails += 1
                print(f"seed {seed} {layout_name}: FAIL {ex!r}", flush=True)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
    print(f"done: {fails} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
