"""EP-A CLI (reference parity: ``python be4dbp.py -f <log>``):

    spark-submit --py-files kgforge.zip jobs/process_log.py \
        --log <access.log[.gz] or glob> --out <dir> [--validate] [--no-dedup]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="kgforge: DBpedia log -> BGP benchmark")
    ap.add_argument("--log", required=True, help="Apache combined log path/glob (gzip ok)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--no-dedup", action="store_true", help="keep same-client repeats")
    ap.add_argument(
        "--validate", action="store_true",
        help="annotate entries with endpoint verdicts (-doEmpty parity; "
        "sandbox uses the deterministic fake executor)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from kgforge.pipeline_log import read_entries, run_log

    spark = SparkSession.getActiveSession()
    if spark is None:
        from kgforge.conf import get_spark

        spark = get_spark("kgforge-process-log", master=args.master)

    metrics = run_log(spark, args.log, args.out, dedup_same_client=not args.no_dedup)

    if args.validate:
        from kgforge.endpoint import validate_entries

        validated = validate_entries(read_entries(spark, args.out))
        validated.write.mode("overwrite").partitionBy("ds").parquet(
            f"{args.out}/entries_validated"
        )
        metrics["n_validated_empty"] = validated.filter("endpoint_empty").count()

    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
