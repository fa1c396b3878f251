"""spark-submit entry point: decode a warehouse and verify bit-identity
against the source tokens table.

    spark-submit --py-files gdelta_spark.zip jobs/verify_job.py \
        --input /path/tokens_parquet --warehouse /path/wh --group-mb 64

Source rows and encoded blocks are cogrouped on part_id (reconstructed from
the same salt plan the encoder used) and compared inside each part, so the
verify never shuffles the corpus on doc_id — the plan that holds at 100 TB.
Prints ``{"rows", "mismatches", "ok"}`` and exits 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

from gdelta_spark.pipeline.session import get_spark  # noqa: E402
from gdelta_spark.pipeline.warehouse import Warehouse  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--group-mb", type=int, default=None,
                    help="salt-plan group size; must match the encode run")
    args = ap.parse_args()

    spark = get_spark("gdelta-verify", master=args.master)
    from gdelta_spark.pipeline import partitioning
    from gdelta_spark.pipeline.decode import verify_partition_local
    from gdelta_spark.pipeline.pyscan import scan_tokens_binary

    salted = partitioning.with_salt(
        scan_tokens_binary(spark, args.input),
        (args.group_mb << 20) if args.group_mb else partitioning.DEFAULT_GROUP_BYTES,
        stats_df=spark.read.parquet(args.input).select("n_tok", "source"),
    )
    report = verify_partition_local(salted, Warehouse(args.warehouse).read_blocks(spark))
    total, n_ok = (int(v or 0) for v in report.agg(F.sum("n_rows"), F.sum("n_ok")).first())
    bad = total - n_ok
    print(json.dumps({"rows": total, "mismatches": bad, "ok": bad == 0}))
    spark.stop()
    sys.exit(0 if bad == 0 else 1)


if __name__ == "__main__":
    main()
