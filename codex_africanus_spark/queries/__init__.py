"""Query registry package.

The former single-module ``queries.py`` (13.3k lines) is split by domain
(round 9, verdict item 4): ``_core`` holds the registry infrastructure
and cross-domain helpers; ``relational`` / ``radio`` / ``events`` /
``corpus`` / ``ann`` hold the per-domain query builders + inline DuckDB
oracles. Importing this package registers every query exactly as the
single module did. The package re-exports only the registry surface
below; every other helper is imported from its domain module.
"""

from . import relational, radio, msops, imaging, events, corpus, ann  # noqa: F401

from ._core import (  # noqa: F401
    REGISTRY,
    QueryDef,
    register,
    registry,
    _driver_green_now,
    _with_ms,
    _MS_CTES,
    dense_or_distinct_bins,
)
