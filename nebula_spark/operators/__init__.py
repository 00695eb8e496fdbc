"""Operator inventory (SURVEY.md §2) as DataFrame transformations.

Each function here corresponds to a reference plan node / executor; thin
wrappers stay thin on purpose — Catalyst plans the physical strategy
(broadcast vs shuffle join, partial aggregation, TakeOrderedAndProject, …)
that the reference hand-rolls in C++ executors.
"""

from nebula_spark.operators.rowops import (  # noqa: F401
    project, filter_rows, dedup, unwind, sample, limit, sort, topn,
)
from nebula_spark.operators.joins import (  # noqa: F401
    inner_join, left_join, semi_join, anti_join, cross_join, roll_up_apply,
)
from nebula_spark.operators.aggregate import aggregate  # noqa: F401
from nebula_spark.operators.setops import (  # noqa: F401
    union_all, union_distinct, intersect, minus,
)
from nebula_spark.operators.traverse import (  # noqa: F401
    go, get_edges, get_neighbors,
)
from nebula_spark.operators.subgraph import k_hop_subgraph  # noqa: F401
from nebula_spark.operators.paths import (  # noqa: F401
    bfs_shortest_paths, bfs_min_paths, all_paths, weighted_shortest_paths,
)
