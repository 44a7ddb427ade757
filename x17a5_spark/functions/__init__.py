"""Engine scalar-function library (SURVEY.md §2.8).

All functions are compositions of built-in ``pyspark.sql.functions``
column expressions — JVM-side, whole-stage-codegen'd, no Python in the
hot path and no UDF. Python runs in the operators' and sources' pandas
kernels and ``mapInPandas`` stages instead (e.g. the fuzzy sequence
merge's ``fuzz.partial_ratio`` in operators/merge.py).
"""

from x17a5_spark.functions.accounting import (
    epsilon_one_digit_match,
    is_power_of_ten_ratio,
    relative_error_class,
    stage_parse_accounting_number,
)
from x17a5_spark.functions.compat import davg, dsum
from x17a5_spark.functions.keys import (
    cik_from_edgar_url,
    filing_key,
    fiscal_year,
    year_quarter_range,
)
from x17a5_spark.functions.text import (
    levenshtein_ratio,
    normalized_fingerprint,
    punct_ratio,
    token_count,
    tokens,
)

__all__ = [
    "cik_from_edgar_url",
    "davg",
    "dsum",
    "epsilon_one_digit_match",
    "filing_key",
    "fiscal_year",
    "is_power_of_ten_ratio",
    "levenshtein_ratio",
    "normalized_fingerprint",
    "stage_parse_accounting_number",
    "punct_ratio",
    "relative_error_class",
    "token_count",
    "tokens",
    "year_quarter_range",
]
