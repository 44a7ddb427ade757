"""x17a5_spark — a PySpark-native filing-analytics engine.

A brand-new engine with the query and data-processing capabilities of the
FRBNY X-17A-5 pipeline (reference: fernando-duarte/X17A5), re-expressed as
idiomatic Spark: a long-format line-item data model flowing through
bronze -> silver -> gold DataFrame stages, Catalyst-planned relational
operators, window functions, a pyspark.ml text classifier, and a small set
of ``applyInPandas`` kernels for the genuinely sequential per-filing
algorithms. See SURVEY.md for the operator inventory this implements.
"""

from x17a5_spark.session import get_spark
from x17a5_spark.tables import load_table

__all__ = ["get_spark", "load_table"]

__version__ = "0.1.0"
