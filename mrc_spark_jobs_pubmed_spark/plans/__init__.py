"""Named-query registry — the engine's declared, oracle-checked surface.

Importing this package registers every query module. `all_queries()` /
`all_oracles()` feed the driver contract in `__spark_entry__.py`, in
registration order: the module imports below, then definition order
within each module.
"""

from mrc_spark_jobs_pubmed_spark.plans.registry import (  # noqa: F401
    Query,
    all_oracles,
    all_queries,
    get,
    register,
)

# Register all query modules (import side effects).
from mrc_spark_jobs_pubmed_spark.plans import (  # noqa: F401,E402
    analysis_queries,
    composite_queries,
    corpus_queries,
    dedup_queries,
    extra_queries,
    graph_queries,
    mixing_queries,
    mm_queries,
    relational_queries,
    similarity_queries,
    streaming_queries,
    text_queries,
    timeseries_queries,
    tpch_more_queries,
)
