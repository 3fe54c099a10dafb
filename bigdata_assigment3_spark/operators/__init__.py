"""Operator modules, one per query family.

Importing this package imports every module below, in this order,
before any single one: whichever module a caller imports first, the
``@query`` decorators run in one order, so the order of
``queries()`` after ``registry.PRIORITY`` does not depend on import
history.  A module that imports another mid-body (``functions2``
imports ``text`` to build an oracle) registers around it, the same
in every process.
"""

from . import (  # noqa: F401
    bucketing,
    coverage,
    curation,
    dedup,
    dq,
    functions2,
    funnel,
    graph,
    hmrf,
    hough,
    imagekernels,
    imagekernels2,
    layout,
    motion,
    motion_adaptive,
    multimodal,
    pipeline,
    relational,
    sampling,
    sketches,
    stats,
    strings,
    similarity,
    text,
    tpch_extra,
    webservice,
)
