"""Query registry loader: importing this module registers every entry.

``@q``, ``REGISTRY`` and the helpers live in the leaf module
``plans/query.py``; the entries live in the eight family modules below.
Each family module imports only the leaf (and, for shared helpers,
another family module), so they can be imported in any order.  The
order of ``REGISTRY`` carries no meaning: ``__spark_entry__._registry()``
sets the order the driver sees.
"""

from __future__ import annotations

from aws_etl_bank_spark.plans import (  # noqa: F401
    registry_analytics_core, registry_analytics_ext, registry_core,
    registry_dialect, registry_llm_corpus, registry_llm_scale,
    registry_llm_stream, registry_sources_sketches)
from aws_etl_bank_spark.plans.query import (  # noqa: F401
    REGISTRY, SCRATCH, QuerySpec, _scratch, canon0, q)
