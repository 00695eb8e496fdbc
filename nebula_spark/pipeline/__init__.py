"""Large-scale training-data pipeline operators.

Beyond the reference's own surface (it has no text/dedup/ANN machinery —
its closest analog is the Elasticsearch-delegated full-text scan,
``src/graph/executor/query/FulltextIndexScanExecutor.cpp``), these are the
operations a 100 TB LLM-data pipeline needs, built Spark-first: built-in
column functions where possible, Arrow-batched pandas UDFs where not, never
row-at-a-time Python.
"""

from nebula_spark.pipeline.text import (  # noqa: F401
    token_count, quality_score, language_id, fingerprint,
)
from nebula_spark.pipeline.dedup import (  # noqa: F401
    exact_dedup, ngram_jaccard_pairs, minhash_signatures, minhash_lsh_pairs,
    lsh_star_edges, simhash64, connected_components,
)
from nebula_spark.pipeline.similarity import (  # noqa: F401
    brute_force_topk, ivf_topk, lsh_bucketed_topk,
)
