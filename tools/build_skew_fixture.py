#!/usr/bin/env python3
"""Build the ADVERSARIAL SKEW fixture (VERDICT r10 directive #6).

Derives a deliberately skewed catalog from a real sf directory so the
registered queries and their DuckDB oracles can be swept UNCHANGED over
hostile data (tests/test_skew_fixture.py drives the sweep through
tools/check_correctness.py — the driver's own cadence):

- events:  ~20% of rows remapped to user_id=1 — one celebrity user whose
  per-key windows (sessionization, journeys) and join fan-outs become a
  single hot partition.
- orders:  ~20% of rows remapped to o_custkey=1 (hot customer for the
  running-spend / RFM machinery) and a DISJOINT ~20% (a different
  modulo class: o_orderkey%5==2 vs %5==0 for the hot customer) get one
  identical o_totalprice — a tie plateau that lands about a fifth of
  the range-partitioned global-rank input on one boundary value.
- lineitem: every ~599th order's lines collapse onto l_orderkey=7 —
  ONE MEGA-BASKET holding hundreds-to-thousands of distinct parts
  (far past frequent_triples' TRIPLE_BASKET_CAP=24), so the basket
  expansions face exactly the blow-up the TRUNCATION contract exists
  for, and the capped query's oracle hash-match PROVES the cap binds
  identically in both engines.
- all other tables copy through verbatim (oracle views need the full
  catalog).

Everything is modulo-keyed (no RNG), so the fixture is bit-reproducible
and both engines see the identical rewrite.

Usage:  python tools/build_skew_fixture.py [src_sf_dir] [out_dir]
Defaults: /root/testdata/sf0.01 -> /tmp/ametl_skew/<sf_tag>
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.catalog_rewrite import derive_catalog, main  # noqa: E402

#: 1-in-N row remapped to the hot entity (N=5 → 20%).
HOT_MOD = 5
#: The tie plateau's constant order value.
TIE_PRICE = 11111.11
#: Every BASKET_MOD-th order's lines collapse onto one mega-basket.
BASKET_MOD = 599
#: The mega-basket's order key.
MEGA_ORDER = 7


def build(src: str, out: str) -> str:
    """Derive the catalog at ``out`` with events, orders and lineitem
    rewritten."""
    rewrites = {
        "events": f"""
            SELECT * REPLACE (
                CASE WHEN event_id % {HOT_MOD} = 0
                     THEN CAST(1 AS BIGINT) ELSE user_id END AS user_id)
            FROM read_parquet('{{src}}')""",
        "orders": f"""
            SELECT * REPLACE (
                CASE WHEN o_orderkey % {HOT_MOD} = 0
                     THEN CAST(1 AS BIGINT) ELSE o_custkey END AS o_custkey,
                CASE WHEN o_orderkey % {HOT_MOD} = 2
                     THEN {TIE_PRICE} ELSE o_totalprice END AS o_totalprice)
            FROM read_parquet('{{src}}')""",
        "lineitem": f"""
            SELECT * REPLACE (
                CASE WHEN l_orderkey % {BASKET_MOD} = 0
                     THEN CAST({MEGA_ORDER} AS BIGINT)
                     ELSE l_orderkey END AS l_orderkey)
            FROM read_parquet('{{src}}')""",
    }
    return derive_catalog(src, out, rewrites)


if __name__ == "__main__":
    raise SystemExit(main(build, "/tmp/ametl_skew"))
