"""Pin the routing triple of every reference fixture.

    python -m tests.route_golden

Routes all fixtures through ``api.route`` with ``extended=False`` and
``extended=True`` and writes tests/fixtures/route_golden.json:
mode -> fixture_id -> [routed_msg_type, routed_symbol, routed_ts].
``tests/test_route_golden.py`` compares a fresh routing with it byte for
byte. Re-pin only when a routing change is meant to alter the triples.
"""

from __future__ import annotations

import json
import pathlib
import sys

GOLDEN = pathlib.Path(__file__).parent / "fixtures" / "route_golden.json"
MODES = {"reference": False, "extended": True}


def routed_triples(spark) -> str:
    """The golden file's text for the current routing code."""
    from crypto_msg_parser_spark.parser import api
    from tests.parser_util import fixtures_df, load_fixtures

    # routing reads only exchange and msg; market_type is not nullable
    rows = [dict(r, market_type=r["market_type"] or "spot") for r in load_fixtures()]
    raw = fixtures_df(spark, rows)
    out = {}
    for mode, extended in MODES.items():
        rows = api.route(raw, extended=extended).select(
            "msg_id", "routed_msg_type", "routed_symbol", "routed_ts"
        ).collect()
        out[mode] = {
            r["msg_id"]: [r["routed_msg_type"], r["routed_symbol"], r["routed_ts"]]
            for r in rows
        }
    return json.dumps(out, indent=1, sort_keys=True) + "\n"


def main() -> int:
    from crypto_msg_parser_spark.session import get_spark

    spark = get_spark("route_golden", cores=2)
    try:
        GOLDEN.write_text(routed_triples(spark))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
