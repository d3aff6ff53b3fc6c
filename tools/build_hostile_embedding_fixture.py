#!/usr/bin/env python3
"""Build the HOSTILE EMBEDDING fixture (VERDICT r12 directive #6).

The skew fixture proved the hot-key axis, the hostile-text fixture the
degenerate-payload axis, the hostile-time fixture the arrival-order
axis. This fixture attacks the LAST unswept input family — adversarial
vector payloads — where Spark and DuckDB can silently diverge on
IEEE-754 edge semantics: cosine of a zero vector (0/0), NaN
propagation through dot products and aggregates, Inf arithmetic
(Inf - Inf = NaN in residuals), subnormal underflow in norms, and
corpus-sized exact-duplicate vector clusters (the giant-centroid shape
ANN bucketing dreads).

``embeddings.embedding`` is rewritten by vec_id modulo class —
everything deterministic, no RNG, so both engines read identical
float32 bytes:

- ``vec_id % 29 == 0`` → the ZERO vector (norm 0: cosine undefined —
  guarded normalization must agree cross-engine, not crash or
  silently rank 0/0 rows).
- ``vec_id % 29 == 1`` → the constant basis vector e0 = [1,0,0,…] —
  a corpus-sized EXACT-DUPLICATE cluster (every such row has cosine
  exactly 1.0 with every other, the tie plateau top-k tiebreaks must
  absorb).
- ``vec_id % 29 == 2`` → component 0 replaced with NaN (NaN contaminates
  every dot product the row touches; both engines must propagate —
  and ORDER it — identically).
- ``vec_id % 29 == 3`` → component 0 replaced with +Inf.
- ``vec_id % 29 == 4`` → component 0 replaced with -Inf (Inf·0 and
  Inf-Inf are NaN factories inside residual/centering math).
- ``vec_id % 29 == 5`` → the whole vector scaled by 1e-20 (float32
  subnormal territory: norms underflow toward 0 while the direction
  survives in double math).
- ``vec_id % 29 == 6`` → the constant basis vector e1 = [0,1,0,…] — a
  SECOND duplicate cluster, so cluster machinery sees two giant
  groups, not one.
- all other rows and tables copy through verbatim (oracle views need
  the full catalog).

The point of the sweep (tests/test_hostile_fixtures.py) is NOT that
outputs look reasonable — it is that the Spark plan and the DuckDB
oracle stay hash-identical on data where zero-norm division, NaN
ordering, and Inf arithmetic actually bite.

Usage:  python tools/build_hostile_embedding_fixture.py [src_sf_dir] [out_dir]
Defaults: /root/testdata/sf0.01 -> /tmp/ametl_hostile_embedding/<sf_tag>
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.catalog_rewrite import derive_catalog, main  # noqa: E402

#: Modulo base for the hostile classes (29 → each class ≈ 3.4% of
#: vectors, ~24% of the corpus hostile overall across seven classes).
MOD = 29


def build(src: str, out: str) -> str:
    """Derive the catalog at ``out`` with ``embeddings.embedding``
    rewritten. Element type stays float32 (REAL) so the hostile file's
    schema is byte-compatible with the source catalog's."""
    emb_case = f"""
        CASE vec_id % {MOD}
            WHEN 0 THEN CAST(list_transform(embedding,
                            x -> CAST(0.0 AS REAL)) AS REAL[])
            WHEN 1 THEN CAST([CAST(1.0 AS REAL)] ||
                            list_transform(embedding[2:],
                                x -> CAST(0.0 AS REAL)) AS REAL[])
            WHEN 2 THEN CAST([CAST('NaN' AS REAL)] ||
                            embedding[2:] AS REAL[])
            WHEN 3 THEN CAST([CAST('Infinity' AS REAL)] ||
                            embedding[2:] AS REAL[])
            WHEN 4 THEN CAST([CAST('-Infinity' AS REAL)] ||
                            embedding[2:] AS REAL[])
            WHEN 5 THEN CAST(list_transform(embedding,
                            x -> CAST(x * 1e-20 AS REAL)) AS REAL[])
            WHEN 6 THEN CAST([CAST(0.0 AS REAL), CAST(1.0 AS REAL)] ||
                            embedding[3:] AS REAL[])
            ELSE embedding
        END"""
    rewrites = {
        "embeddings": f"""
            SELECT * REPLACE ({emb_case} AS embedding)
            FROM read_parquet('{{src}}')""",
    }
    return derive_catalog(src, out, rewrites)


if __name__ == "__main__":
    raise SystemExit(main(build, "/tmp/ametl_hostile_embedding"))
