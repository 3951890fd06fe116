"""The pinned triple sets (tests/goldens/, see tools/triple_sets.py).

Each golden is the engine's comparable triple set for one input — default
and rich corpus mode at sf0.001 and sf0.01, and the 3,000-concept
randomized fixture — recorded when that set equalled the reference's own
output (P = R = 1.0, BENCH/BASELINE.md round-5 tables). Recomputing it
here carries that parity to every change without a reference checkout.
Regenerate with ``python tools/triple_sets.py --write`` only in a change
that is meant to change the triples.
"""

from __future__ import annotations

import pytest

from tools import triple_sets as TS

# the round-5 reference counts each golden was checked against
SIZES = {
    "default_sf0.001": 2134,
    "default_sf0.01": 1978,
    "rich_sf0.001": 4532,
    "rich_sf0.01": 4330,
    "fixture_3000": 16030,
}


@pytest.mark.parametrize("name", list(TS.SETS))
def test_triple_set_matches_golden(spark, name):
    want = TS.read_golden(name)
    assert len(want) == SIZES[name]
    got = TS.triple_set(spark, name)
    assert got == want, (
        f"{len(got - want)} extra, {len(want - got)} missing; "
        f"extra {sorted(got - want)[:3]} missing {sorted(want - got)[:3]}"
    )
