#!/usr/bin/env python3
"""Build the HOSTILE TIME fixture (VERDICT r11 directive #6).

The skew fixture attacked hot keys; the hostile-text fixture attacks
degenerate payloads; this one attacks the TIME axis the streaming folds
and ordered windows were never swept on. Derives a catalog from a real
sf directory where ``events`` is rewritten by event_id modulo class
(deterministic, no RNG — both engines see identical rows):

- ``event_id % 2 == 1``  → ts shifted BACK 7 days. The streaming
  last-value fixtures split their delta by ``event_id % 2`` into
  micro-batches (b0 = even, b1 = odd, b2 = b0 redelivered), so on this
  fixture the SECOND batch is almost entirely OLDER than the first —
  every odd row is a late arrival across a batch boundary, and the
  argmax/min folds must keep b0's newer state rather than letting
  arrival order win.
- ``event_id % 5 == 3``  → ts truncated to the DAY (midnight): a
  timestamp TIE plateau (many events — same user and across users —
  sharing an identical ts), so every
  (ts)-ordered window, argmax fold, and first/last-touch derivation
  actually exercises its event_id tiebreak — an ordering that forgot
  the tiebreak goes nondeterministic and fails the hash here, not on a
  1000-executor cluster where partition order differs run to run.
- all other tables copy through verbatim.

Both classes overlap (an odd, %5==3 event is shifted then truncated —
the arithmetic composes identically in both engines). The sweep
(tests/test_hostile_fixtures.py) runs the streaming parity folds and
the ordered-window/event families UNCHANGED over this catalog through
tools/check_correctness.py and requires every hash to match.

Usage:  python tools/build_hostile_time_fixture.py [src_sf_dir] [out_dir]
Defaults: /root/testdata/sf0.01 -> /tmp/ametl_hostile_time/<sf_tag>
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.catalog_rewrite import derive_catalog, main  # noqa: E402

#: Days the late class is shifted back.
LATE_DAYS = 7
#: 1-in-N events tie-truncated to midnight (N=5 → 20%).
TIE_MOD = 5


def build(src: str, out: str) -> str:
    """Derive the catalog at ``out`` with ``events.ts`` rewritten."""
    ts_expr = f"""
        CASE WHEN event_id % {TIE_MOD} = 3
             THEN date_trunc('day',
                      CASE WHEN event_id % 2 = 1
                           THEN ts - INTERVAL {LATE_DAYS} DAY ELSE ts END)
             ELSE CASE WHEN event_id % 2 = 1
                       THEN ts - INTERVAL {LATE_DAYS} DAY ELSE ts END
        END"""
    rewrites = {
        "events": f"""
            SELECT * REPLACE ({ts_expr} AS ts)
            FROM read_parquet('{{src}}')""",
    }
    return derive_catalog(src, out, rewrites)


if __name__ == "__main__":
    raise SystemExit(main(build, "/tmp/ametl_hostile_time"))
