"""The pack shuffle ships JVM-computed quantized BM25 contributions
(build.pack_postings); this asserts the JVM expression is bit-identical
to the numpy form the oracle/codec path uses — over a structured sweep
plus 50k random (tf, dl, df) triples. If an engine/libm ever diverged
by one ULP at a .5 quantization boundary this test is the tripwire."""

import numpy as np
from pyspark.sql import functions as F

from typesense_spark import scoring


def _numpy_contrib(tfs, dls, dfs, n_docs, avgdl):
    idf = np.log(1.0 + (n_docs - dfs + 0.5) / (dfs + 0.5))
    tfn = tfs * (scoring.K1 + 1.0) / (
        tfs + scoring.K1 * (1.0 - scoring.B + scoring.B * dls / avgdl)
    )
    return np.floor(idf * tfn * scoring.SCALE + 0.5).astype(np.int64)


def test_jvm_contrib_matches_numpy(spark):
    sweep = [
        (tf, dl, df)
        for tf in [1, 2, 3, 5, 8, 13, 100, 1000]
        for dl in [1, 5, 17, 100, 270, 1000, 8192]
        for df in [1, 2, 3, 10, 97, 1000, 50_000, 99_999]
    ]
    df = spark.createDataFrame(sweep, "tf long, dl long, df long").unionByName(
        spark.range(50_000).select(
            (F.pmod(F.xxhash64("id"), 50) + 1).alias("tf"),
            (F.pmod(F.xxhash64("id", F.lit(1)), 8000) + 1).alias("dl"),
            (F.pmod(F.xxhash64("id", F.lit(2)), 99_999) + 1).alias("df"),
        )
    )
    # multiple corpus-stat regimes: tiny index, the bench shape, a
    # web-scale-ish N, and a fractional avgdl that stresses the division
    for n_docs, avgdl in [(50, 12.0), (100_000, 269.557), (10**9, 417.3331)]:
        got = df.withColumn(
            "c",
            scoring.spark_contrib_expr(
                F.col("tf"), F.col("dl"), F.col("df"), n_docs, avgdl
            ),
        ).toPandas()
        want = _numpy_contrib(
            got["tf"].to_numpy(np.int64),
            got["dl"].to_numpy(np.int64),
            got["df"].to_numpy(np.int64),
            n_docs,
            avgdl,
        )
        mism = int((want != got["c"].to_numpy()).sum())
        assert mism == 0, f"{mism} mismatches at n_docs={n_docs}, avgdl={avgdl}"
