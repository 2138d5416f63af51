"""Sizing probe for curation_mix: warm time of each mix query against the
corpus size, and the same queries with xxhash64 in place of md5.

    python3 perfbench/probe_mix.py 5000x1 5000x16 10000x16 20000x16

Each argument is DOCSxFILES. For each, the probe prints the median of three
warm passes per query, with md5 (the registered query) and with xxh64 (the
same package functions called with their xxhash64 option). Growth with size
shows what share of a query is per-document work rather than per-job
overhead; the md5 - xxh64 difference is the share the gram hash takes.
The xxh64 variants do not match the DuckDB oracles, so nothing is checked.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import inputs
from common import CONF, ROOT, child_env, nproc, spark_settings
from workloads import MIX_QUERIES


def xxh64_variant(spark, name: str, sf_dir: str):
    from pyspark.sql import functions as F

    from loongcollector_spark.functions import bloom, dedup
    from loongcollector_spark.functions.text import quality_classifier_logodds, word_ngrams
    from loongcollector_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    if name == "dedup_simhash_multirot":
        return dedup.simhash_near_dups(docs, "text", "doc_id", n=2, max_hamming=3,
                                       gram_hash=lambda c: F.xxhash64(c), n_rotations=4)
    if name == "bloom_contamination_flags":
        docs = docs.withColumn("grams", word_ngrams(F.col("text"), 5))
        bench = docs.filter(F.col("doc_id") % 7 == 0)
        return bloom.bloom_decontaminate(docs, "grams", "doc_id", bench, hash="xxh64")
    return quality_classifier_logodds(docs, "text", "doc_id", F.col("n_chars") >= 400,
                                      n_buckets=2048, hash="xxh64")


def median_s(make, reps: int = 3) -> float:
    from loongcollector_spark.functions import dedup

    times = []
    for _ in range(reps):
        t = time.perf_counter()
        make().collect()
        dedup.release_persisted()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def main() -> int:
    os.environ.update(child_env())
    sys.path.insert(0, ROOT)
    from loongcollector_spark.queries import QUERIES
    from loongcollector_spark.session import get_spark

    spark = get_spark(app_name="perfbench-probe", master=CONF["master"].format(nproc=nproc()),
                      extra_conf=spark_settings(False))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for arg in sys.argv[1:]:
            docs, files = (int(x) for x in arg.split("x"))
            d = inputs.documents(1, docs, files)
            for q in MIX_QUERIES:  # warm-up
                median_s(lambda: QUERIES[q].spark(spark, d), 2)
            md5 = {q: median_s(lambda: QUERIES[q].spark(spark, d)) for q in MIX_QUERIES}
            xxh = {q: median_s(lambda: xxh64_variant(spark, q, d)) for q in MIX_QUERIES}
            print(json.dumps({"docs": docs, "files": files,
                              "md5_s": {q: round(v, 3) for q, v in md5.items()},
                              "xxh64_s": {q: round(v, 3) for q, v in xxh.items()},
                              "md5_total_s": round(sum(md5.values()), 2),
                              "xxh64_total_s": round(sum(xxh.values()), 2)}), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
