"""Extract MLlib BucketedRandomProjectionLSH's seeded projection vectors.

The model's randUnitVectors depend ONLY on (seed, input dim, numHashTables)
— never on the fitted data — so they can be committed once as a fixture and
embedded as literals in the DuckDB oracle for ann_mllib_lsh, exactly like the
IVF centroid sidecars (FIXTURES.md). This script proves the data-independence
claim by fitting on two different datasets and asserting identical vectors,
then writes .brp_cache/brp_seed{seed}_d{dim}_t{tables}.json.

Usage: python tools/dump_brp_planes.py [dim] [seed] [num_tables]
"""

from __future__ import annotations

import json
import os
import sys

_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _CHECKOUT)


def main() -> None:
    dim = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    tables = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    import pyspark
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors
    from pyspark.sql import SparkSession

    # the randUnitVectors() extraction below reaches through the private py4j
    # handle model._java_obj — verified against the pinned version only; on
    # any other pyspark, re-verify the accessor before trusting the fixture.
    if not pyspark.__version__.startswith("4.1."):
        raise RuntimeError(
            f"private randUnitVectors() accessor verified on pyspark 4.1.x "
            f"only; running {pyspark.__version__} — re-verify before use"
        )

    spark = (
        SparkSession.builder.master("local[2]").appName("dump-brp-planes").getOrCreate()
    )

    def fit_on(rows):
        df = spark.createDataFrame([(Vectors.dense(r),) for r in rows], ["features"])
        lsh = BucketedRandomProjectionLSH(
            inputCol="features", outputCol="hashes", bucketLength=1.0,
            numHashTables=tables, seed=seed,
        )
        model = lsh.fit(df)
        return [
            [float(x) for x in v.toArray()]
            for v in model._java_obj.randUnitVectors()
        ]

    v1 = fit_on([[float(i == j) for i in range(dim)] for j in range(4)])
    v2 = fit_on([[float((i * j + 7) % 5) for i in range(dim)] for j in range(1, 9)])
    assert v1 == v2, "randUnitVectors must be data-independent (seed+dim only)"

    out_dir = os.path.join(_CHECKOUT, ".brp_cache")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"brp_seed{seed}_d{dim}_t{tables}.json")
    with open(path, "w") as f:
        json.dump(v1, f)
    print(f"wrote {len(v1)} unit vectors of dim {dim} to {path}")


if __name__ == "__main__":
    main()
