#!/usr/bin/env python3
"""Build the HOSTILE TEXT fixture (VERDICT r11 directive #6).

The skew fixture (tools/build_skew_fixture.py) proved the hot-key /
tie-plateau axis; this fixture attacks the OTHER axis the dedup and
text-quality families were never swept on — degenerate and adversarial
document payloads. Derives a catalog from a real sf directory where
``documents.text`` is rewritten by doc_id modulo class (everything
deterministic, no RNG, so both engines see the identical bytes):

- ``doc_id % 31 == 0``  → NULL text (ingest rot: the column the
  shingler, tokenizer, and quality panel all assume present).
- ``doc_id % 31 == 1``  → empty string '' — and because EVERY such doc
  is the same empty string, this also plants a corpus-sized EXACT-DUP
  group (the giant-cluster shape LSH threshold audits dread).
- ``doc_id % 31 == 2``  → whitespace-only ('   ') — tokenizes to
  empty-ish token lists without being empty.
- ``doc_id % 31 == 3``  → unicode confusables: ASCII a/e/o swapped for
  Cyrillic а/е/о. Visually identical, byte-distinct — exact-dup hashing
  must treat them as DIFFERENT while byte-blind length/shingle
  machinery keeps working on multi-byte code points.
- ``doc_id % 31 == 4|5`` → a 200-char constant prefix prepended —
  identical-prefix documents whose leading shingles all collide
  (the boilerplate-header shape), stressing banding selectivity.
- all other documents and tables copy through verbatim (oracle views
  need the full catalog).

The point of the sweep (tests/test_hostile_fixtures.py) is NOT that the
outputs look reasonable — it is that the Spark plan and the DuckDB
oracle produce hash-identical results on data where null-handling,
empty-split semantics, and multi-byte strings actually bite. An engine
pair that disagrees on ``split('')`` or silently drops NULL rows on one
side only fails here, not in production.

Usage:  python tools/build_hostile_text_fixture.py [src_sf_dir] [out_dir]
Defaults: /root/testdata/sf0.01 -> /tmp/ametl_hostile_text/<sf_tag>
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.catalog_rewrite import derive_catalog, main  # noqa: E402

#: Modulo base for the hostile classes (31 → each class ≈ 3.2% of docs,
#: ~16% of the corpus degenerate overall — enough to bite, not so much
#: the corpus stops looking like text).
MOD = 31

#: The constant boilerplate prefix for the identical-prefix classes.
PREFIX = (
    "terms of service apply to all content in this document please "
    "read carefully before proceeding the following text is provided "
    "as is without warranty of any kind either express or implied "
    "including fitness for purpose "
)


def build(src: str, out: str) -> str:
    """Derive the catalog at ``out`` with ``documents.text`` rewritten."""
    text_case = f"""
        CASE doc_id % {MOD}
            WHEN 0 THEN NULL
            WHEN 1 THEN ''
            WHEN 2 THEN '   '
            WHEN 3 THEN replace(replace(replace(text,
                            'a', 'а'), 'e', 'е'), 'o', 'о')
            WHEN 4 THEN '{PREFIX}' || text
            WHEN 5 THEN '{PREFIX}' || text
            ELSE text
        END"""
    rewrites = {
        "documents": f"""
            SELECT * REPLACE ({text_case} AS text)
            FROM read_parquet('{{src}}')""",
    }
    return derive_catalog(src, out, rewrites)


if __name__ == "__main__":
    raise SystemExit(main(build, "/tmp/ametl_hostile_text"))
