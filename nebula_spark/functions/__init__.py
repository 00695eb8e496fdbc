"""Scalar function surface (FunctionManager parity, SURVEY.md §2.9)."""

from nebula_spark.functions.scalar import FUNCTIONS, call  # noqa: F401
from nebula_spark.functions.graphfns import cos_similarity  # noqa: F401
