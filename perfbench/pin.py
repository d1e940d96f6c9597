"""Pin the one-copy parse outputs that parse_mixed's gate multiplies.

    python3 perfbench/pin.py

Runs one pass of parse_mixed over a single copy of the fixtures and writes
perfbench/pinned_parse.json: 'exchange|msg_type' -> [rows, content hash].
Re-pin only when a parse change is meant to alter the outputs.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench import run
    from perfbench.parse import PINNED, ParseMixed
    from perfbench.trace import Tracer

    work = run.WORK / "pin"
    shutil.rmtree(work, ignore_errors=True)
    spark = run._session(work)
    try:
        wl = ParseMixed(spark, work, seed=0, copies=1)
        tr = Tracer(spark, enabled=False)
        wl.build(tr)
        wl.run(tr)
        PINNED.write_text(json.dumps(wl.observed(), indent=1, sort_keys=True) + "\n")
    finally:
        run._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
