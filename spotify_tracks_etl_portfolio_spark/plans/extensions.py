"""Extension query families — facade.

The implementation lives in the family modules (split at round 12 from
the original single file; the registry order is ``plans.window_order``,
which sorts by recorded state and name, so moving a query between
modules cannot move a window slot):

- :mod:`._ext_shared`  — shared scratch/artifact plumbing + SQL fragments
- :mod:`.ext_text`       — text analysis / LM / BPE / search
- :mod:`.ext_dedup`      — exact/near/semantic dedup + ExactSubstr
- :mod:`.ext_similarity` — ANN: IVF / PQ / IVFPQ (+ incremental)
- :mod:`.ext_curation`   — gates, splits, mixing, sampling, packing
- :mod:`.ext_infra`      — COW table, streaming gates, multimodal, graph

Importing this module registers every family's queries (side effect of
the family imports below) and re-exports their names so existing
``from ...plans.extensions import X`` call sites keep working.
"""

from __future__ import annotations

from spotify_tracks_etl_portfolio_spark.plans import (  # noqa: F401
    _ext_shared,
    ext_curation,
    ext_dedup,
    ext_infra,
    ext_similarity,
    ext_text,
)

for _mod in (_ext_shared, ext_text, ext_dedup, ext_similarity,
             ext_curation, ext_infra):
    for _k, _v in vars(_mod).items():
        if not _k.startswith("__"):
            globals().setdefault(_k, _v)
del _mod, _k, _v
