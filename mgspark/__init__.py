"""mgspark — PySpark-native differentially-private heavy hitters and
mergeable sketch/approximate-aggregation library.

From-scratch rebuild of the capabilities of DavidJuul/private-misra-gries
(reference at /root/reference, see SURVEY.md) as idiomatic PySpark:
vectorized Arrow/pandas kernels staged as partial+final aggregations over
DataFrames, plus the wider mergeable-sketch family (HLL, Count-Min,
Bloom, t-digest-style quantiles, KLL) and large-scale training-data
pipeline operators (dedup, similarity search, text analysis).
"""

from mgspark.kernel import MGState, mg_build_weighted, mg_merge, mg_reference  # noqa: F401
from mgspark import dp  # noqa: F401

__version__ = "0.1.0"
