"""Correctness gate: the triples a pass produced must equal what
`oracle.run_oracle` gives on the same generated inputs.

The comparison is a count plus an order-free content digest: the sum
over triples of the first 60 bits of sha256(subj NUL pred NUL obj).
Spark computes it in one aggregation over the pass's output; Python
computes it over the oracle's triple set. A dropped, altered or
duplicated triple changes the count, the sum or both.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "\u0000"
HEX_DIGITS = 15  # 60 bits: a sum over 2^60-bounded terms fits decimal(38,0)


@dataclass(frozen=True)
class Digest:
    count: int
    total: int


def triple_digest(triples) -> Digest:
    total = 0
    n = 0
    for s, p, o in triples:
        h = hashlib.sha256(f"{s}{SEP}{p}{SEP}{o}".encode("utf-8")).hexdigest()
        total += int(h[:HEX_DIGITS], 16)
        n += 1
    return Digest(n, total)


def spark_digest(df: DataFrame) -> Digest:
    h = F.conv(
        F.substring(F.sha2(F.concat_ws(SEP, "subj", "pred", "obj"), 256),
                    1, HEX_DIGITS),
        16, 10,
    ).cast("decimal(38,0)")
    row = df.select("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")
    ).collect()[0]
    return Digest(int(row["n"]), int(row["h"] or 0))


def self_test(spark, oracle_triples) -> bool:
    """The gate must accept the oracle's own triples and reject the
    same triples with one dropped or one altered. Run on a small slice
    so it costs one short Spark job per case."""
    sample = sorted(oracle_triples)[:64]
    schema = "subj string, pred string, obj string"
    want = triple_digest(sample)
    altered = sample[:-1] + [(sample[-1][0], sample[-1][1], sample[-1][2] + " ")]
    return (
        spark_digest(spark.createDataFrame(sample, schema)) == want
        and spark_digest(spark.createDataFrame(sample[1:], schema)) != want
        and spark_digest(spark.createDataFrame(altered, schema)) != want
    )
