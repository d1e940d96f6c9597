"""The routing triple of all 497 reference fixtures, under both the
reference (9-exchange) and extended msg_type ladders, equals the pinned
golden byte for byte. Re-pin with ``python -m tests.route_golden``."""

from __future__ import annotations

import json

from tests.route_golden import GOLDEN, MODES, routed_triples


def test_route_golden_is_byte_identical(spark):
    got = routed_triples(spark)
    want = GOLDEN.read_text()
    if got != want:
        g, w = json.loads(got), json.loads(want)
        diff = [
            (mode, fid, g[mode].get(fid), w[mode].get(fid))
            for mode in MODES
            for fid in sorted(set(g[mode]) | set(w[mode]))
            if g[mode].get(fid) != w[mode].get(fid)
        ]
        raise AssertionError(f"{len(diff)} triples differ, first: {diff[:10]}")


def test_route_golden_covers_every_fixture():
    from tests.parser_util import load_fixtures

    ids = {r["fixture_id"] for r in load_fixtures()}
    golden = json.loads(GOLDEN.read_text())
    assert set(golden) == set(MODES)
    for mode in MODES:
        assert set(golden[mode]) == ids, mode
