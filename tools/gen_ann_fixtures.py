"""Regenerate per-SF ANN oracle constants (VERDICT_r7 #5).

The IVF / PQ / IVFADC oracle twins embed TRAINED constants (coarse
centroids, PQ codebook, residual codebook). The sf0.01 set lives as
the pinned literals in plans/ivf_fixture.py / pq_fixture.py (that is
what the driver's static oracle strings use); every other SF was a
``pinned_skip`` row in the local census. This tool re-runs the SAME
bit-deterministic trainers (fixed lowest-id init, fixed rounds, exact
nano-unit integer mean sums — so the output is a reproducible constant,
not a sample) against one or more sf dirs and writes
``plans/ann_fixtures.py`` holding an ``ANN_FIXTURES[basename]`` dict
that tools/sf_parity.py uses to build value-exact oracles at those SFs.

Usage: python -m tools.gen_ann_fixtures testdata/sf1 testdata/sf1z ...
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_engineering_course_project_2023_spark",
    "plans",
    "ann_fixtures.py",
)

HEADER = '''"""Per-SF ANN oracle constants — GENERATED by tools/gen_ann_fixtures.py.

Each entry replays the bit-deterministic training paths (see
operators/similarity._kmeans_list / _pq_train and the
residual chain in tests/test_temporal.py) at that SF's embeddings
table, so tools/sf_parity.py can build value-exact IVF/PQ/IVFADC
oracles instead of recording pinned_skip rows. Regenerate after any
trainer change: python -m tools.gen_ann_fixtures <sf_dir>...
"""

ANN_FIXTURES = '''


def train_for(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from data_engineering_course_project_2023_spark.operators import similarity
    from data_engineering_course_project_2023_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = similarity._kmeans_list(emb, k=8, n_iter=3)
    pq = similarity._pq_train(
        emb, similarity.PQ_M, similarity.PQ_K, 2, "vec_id", "embedding"
    )
    # residual codebook: pinned-IVF assignment -> residuals -> PQ train
    # (the exact spelling tests/test_temporal.py re-derives at sf0.01)
    cent_lookup = ", ".join(
        "struct({} AS cid, array({}) AS c)".format(
            int(cid), ",".join(repr(float(x)) + "D" for x in c)
        )
        for cid, c in ivf
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = vecs.withColumn(
        "centroid_id", similarity._argmin_expr(ivf)
    ).withColumn(
        "resid",
        F.expr(
            f"zip_with(v, filter(array({cent_lookup}),"
            " s -> s.cid = centroid_id)[0].c, (a, b) -> a - b)"
        ),
    )
    ivfpq = similarity._pq_train(
        assigned.select("vec_id", "resid"), 8, 16, 2, "vec_id", "resid"
    )
    return {"ivf": ivf, "pq": pq, "ivfpq": ivfpq}


def main() -> None:
    from data_engineering_course_project_2023_spark.session import get_spark

    sf_dirs = sys.argv[1:]
    assert sf_dirs, "pass at least one sf dir"
    spark = get_spark(app_name="gen_ann_fixtures")
    spark.sparkContext.setLogLevel("ERROR")
    fixtures = {}
    for d in sf_dirs:
        base = os.path.basename(os.path.normpath(d))
        print(f"training {base} ...", flush=True)
        fixtures[base] = train_for(spark, d)
    with open(OUT, "w") as f:
        f.write(HEADER + repr(fixtures) + "\n")
    print(f"wrote {OUT} ({os.path.getsize(OUT)} bytes)")


if __name__ == "__main__":
    main()
