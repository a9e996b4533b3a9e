"""EP-A/EP-B parity pipeline: raw DBpedia endpoint log -> benchmark tables.

The reference's primary entry point is ``python be4dbp.py -f <access.log>``
([R:be4dbp.py], SURVEY.md 3.1 EP-A): parse combined-log lines, URL-decode
the /sparql?query= parameter, parse + canonicalize each query, dedup
same-client repeats, emit per-date entries and a frequency ranking (EP-B).

This module re-creates that flow Spark-first over ``read_apache_log``:

  read log (gzip-transparent text scan; n_lines observed in flight)
    -> JVM field extraction + URL decode              (S1/P3/P4)
    -> fused parse+canonicalize pandas stage          (U2+U3, memoized)
    -> same-client duplicate flag                     (W2: row_number window)
  [localCheckpoint: the ONE Python parse pass, materialized]
    -> per-date partitioned entries table             (S2: partitionBy ds)
    -> BGP frequency ranking                          (A2 / EP-B)
    -> per-date stats; run totals observed from them  (S4 / [R:Stat.py])

Everything after the checkpoint reads its blocks, so the log is scanned and
every query parsed exactly once per call.  ``localCheckpoint`` keeps the
blocks on the executors (memory, spilling to disk): losing an executor
mid-call fails the call instead of recomputing, which a re-run fixes —
``run_log`` overwrites its outputs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window as W
from pyspark.sql import functions as F

from kgforge.observe import obs_get
from kgforge.sources.logs import read_apache_log

ENTRY_SCHEMA = (
    "ip string, ts timestamp, query string, parse_ok boolean, error string, "
    "query_form string, simple boolean, n_tps int, bgp_hash string, canonical string"
)


def _parse_queries_df(hits: DataFrame) -> DataFrame:
    """Fused U2+U3 over already-extracted query strings (no mention scan —
    the log reader isolated the query parameter)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kgforge.operators.extract import _parse_one

        for pdf in batches:
            res = [_parse_one(q)[:7] for q in pdf["query"].tolist()]
            out = pd.DataFrame(
                res,
                columns=["parse_ok", "error", "query_form", "simple", "n_tps",
                         "bgp_hash", "canonical"],
                index=pdf.index,
            )
            yield pd.concat([pdf[["ip", "ts", "query"]], out], axis=1)

    return hits.select("ip", "ts", "query").mapInPandas(gen, schema=ENTRY_SCHEMA)


def run_log(
    spark: SparkSession,
    log_path: str,
    out_dir: str,
    dedup_same_client: bool = True,
) -> dict:
    """Process one (or a glob of) Apache log file(s); returns metric counts.

    Outputs under ``out_dir``:
      entries/      per-date (ds=YYYY-MM-DD) parsed entries  [S2 routing]
      ranking/      canonical BGP -> frequency               [EP-B]
      stats/        per-date counters (hits/ok/rejected/dups) [R:Stat.py]

    An input with no /sparql?query= hits still writes all three tables (the
    entries table then holds no data files; read it with ``read_entries``)
    and returns zero for every count but ``n_lines``.
    """
    obs_lines, obs_ranking, obs_stats = Observation(), Observation(), Observation()

    # n_lines is counted while the checkpoint below scans the log, not by a
    # second scan
    lines = read_apache_log(spark, log_path).observe(
        obs_lines, F.count(F.lit(1)).alias("n")
    )
    parsed = _parse_queries_df(lines.filter(F.col("query").isNotNull()))

    # W2: suppress same-client immediate repeats of the identical query
    if dedup_same_client:
        w = W.partitionBy("ip", F.md5("query")).orderBy("ts")
        parsed = (
            parsed.withColumn("_rn", F.row_number().over(w))
            .withColumn("is_dup", F.col("_rn") > 1)
            .drop("_rn")
        )
    else:
        parsed = parsed.withColumn("is_dup", F.lit(False))

    # The ONE parse pass: without this cut each of the three writes below
    # re-runs the scan, the parse MapInPandas and the window shuffle.  The
    # writes run one after another, so the checkpoint blocks see no
    # concurrent first-readers (the contention that rejected persist() in
    # pipeline.run_stage2 does not arise).
    entries = parsed.withColumn("ds", F.date_format("ts", "yyyy-MM-dd")).localCheckpoint()

    kept = entries.filter(~F.col("is_dup")).drop("is_dup")
    kept.write.mode("overwrite").partitionBy("ds").parquet(f"{out_dir}/entries")

    ranking = (
        kept.filter("parse_ok")
        .groupBy("bgp_hash")
        .agg(F.count("*").alias("count"), F.first("canonical").alias("canonical"))
        .observe(obs_ranking, F.count(F.lit(1)).alias("n"))
    )
    ranking.write.mode("overwrite").parquet(f"{out_dir}/ranking")

    # the run totals are sums over the 1-row-per-day stats, observed while
    # they are written
    stats = (
        entries.groupBy("ds")
        .agg(
            F.count("*").alias("hits"),
            F.sum(F.when(F.col("parse_ok") & ~F.col("is_dup"), 1).otherwise(0)).alias("ok"),
            F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).alias("rejected"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dups"),
        )
        .observe(obs_stats, *[F.sum(c).alias(c) for c in ("hits", "ok", "rejected", "dups")])
    )
    stats.write.mode("overwrite").parquet(f"{out_dir}/stats")

    # a 0 can mean the observation was dropped: with no hits AQE replaces
    # the empty window stage, and the observed count with it, so the log is
    # then counted by a (JVM-only) re-scan
    n_lines = obs_get(obs_lines, "n") or read_apache_log(spark, log_path).count()
    return {
        "n_lines": n_lines,
        "n_hits": obs_get(obs_stats, "hits"),
        "n_ok": obs_get(obs_stats, "ok"),
        "n_rejected": obs_get(obs_stats, "rejected"),
        "n_dups": obs_get(obs_stats, "dups"),
        "n_distinct_bgps": obs_get(obs_ranking, "n"),
    }


def read_entries(spark: SparkSession, out_dir: str) -> DataFrame:
    """The entries table ``run_log`` wrote, with its schema given rather than
    inferred: a log with no hits leaves no data file to infer it from."""
    return spark.read.schema(f"{ENTRY_SCHEMA}, ds string").parquet(f"{out_dir}/entries")
