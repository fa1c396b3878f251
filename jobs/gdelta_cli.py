"""Drop-in CLI with the reference's interface (main.cpp:38-155):

    python jobs/gdelta_cli.py -e [-o out] <basefile> <targetfile>   # encode
    python jobs/gdelta_cli.py -d [-o out] <basefile> <deltafile>    # decode

Byte-compatible with the C++ binary in both directions: deltas produced here
decode with `gdelta -d`, and vice versa. No Spark involved — this is the
single-pair codec surface for users of the reference CLI.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from gdelta_spark.codecs.gdelta_codec import gdelta_decode  # noqa: E402
from gdelta_spark.codecs.gdelta_group import gdelta_encode_group  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(prog="gdelta")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("-e", action="store_true", help="encode: base + target -> delta")
    mode.add_argument("-d", action="store_true", help="decode: base + delta -> target")
    ap.add_argument("-o", metavar="outputfile", default=None)
    ap.add_argument("basefile")
    ap.add_argument("target_or_delta")
    args = ap.parse_args()

    base = Path(args.basefile).read_bytes()
    second = Path(args.target_or_delta).read_bytes()
    out = gdelta_encode_group([second], base)[0] if args.e else gdelta_decode(second, base)

    if args.o:
        Path(args.o).write_bytes(out)
    else:
        sys.stdout.buffer.write(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
