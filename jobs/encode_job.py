"""spark-submit entry point: encode a tokens parquet table into the warehouse
with checkpoint/resume.

    spark-submit --py-files gdelta_spark.zip jobs/encode_job.py \
        --input /path/tokens_parquet --warehouse /path/wh [--group-mb 64]

(In-sandbox it is also runnable as plain `python jobs/encode_job.py ...` —
the session factory creates the local master.)
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from gdelta_spark.pipeline.session import get_spark  # noqa: E402
from gdelta_spark.pipeline.warehouse import encode_and_commit  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--group-mb", type=int, default=64)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("gdelta-encode", master=args.master)
    # the path, not a DataFrame: encode_and_commit then reads the tokens
    # with the Python-native parquet scan (pyscan), not the JVM array path
    summary = encode_and_commit(
        spark, args.input, args.warehouse, group_bytes=args.group_mb << 20
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
