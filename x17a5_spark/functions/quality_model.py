"""t34 — frozen model-based document quality filter.

The FineWeb/DCLM-style gate: a TRAINED classifier applied to every
corpus document, closing the gap between the hand-crafted heuristics
(t2 length/punct/stopword score, t23 importance sampling) and the X5
family (which trains/applies at line-item grain, test-gated only).

Reference analogy: run_build_database.py:298-336 trains
HashingVectorizer -> LogisticRegression over labelled text and applies
it corpus-wide; this module is that family at document grain,
re-expressed so the APPLICATION is a pure codegen scalar chain with an
exact DuckDB twin:

* **Featurizer**: md5-bucket hashed unigram counts (64 buckets; the
  d3/d14 56-bit md5-prefix discipline — murmur3 HashingTF has no
  DuckDB equivalent), plus distinct-token ratio and mean token length
  — the two dense features that separate degenerate web junk (token
  spam, non-linguistic gibberish) which bucketed TF alone cannot
  linearly separate from clean text.
* **Quantization**: the trained float model (pyspark.ml
  LogisticRegression, binomial; tools/train_t34.py, deterministic
  labelled set derived from the sf0.01 corpus) is frozen as integer
  micro-weights. The decision value

      z_scaled = C0*n + sum_t W[bucket(t)] + CD*d + CL*chars

  equals 1e6 * n * z_float up to quantization (n = tokens, d =
  distinct tokens, chars = total token chars; every feature was
  trained as feature/n, so multiplying the logit by n clears ALL
  denominators). Pure BIGINT arithmetic -> bit-identical in Spark and
  DuckDB, order-independent, no float summation anywhere.
* **Decision**: keep = z_scaled >= 0 (sign(z_scaled)==sign(z_float)
  because n > 0). Quantized-rule in-sample accuracy: 0.9993
  (tools/train_t34.py output; tests pin the planted-class split).

Scale: application is scan -> HOF transform/aggregate -> comparison —
stateless whole-stage-codegen expressions, zero exchange, byte
proportional; the model rides into executors as ~70 interpolated
literals (no broadcast, no model file, no Python worker).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- frozen model (tools/train_t34.py on /root/testdata/sf0.01) ---------
# quantized-rule in-sample accuracy: 0.9993
N_BUCKETS = 64
C0 = -2234837
CD = 7800423
CL = -130896
W = [728870, -11311013, -10530080, -13041936, 1010963, -9358451, -8914454, 997242, -8382471, 834387, 1331158, -12723849, -10951191, -9324816, -9393193, -13585787, -10629198, 1297355, 908427, -9917155, -10595941, -12908281, -11191823, 865301, 1127647, 907933, -11595467, -11973366, -9163682, 467869, -10936908, -8684775, -11581897, 832678, 1249655, -12301250, 160937, -10533355, -9264158, -9773684, -11259719, 1229905, 533594, -11430244, 811817, 253575, 940611, -11335523, -13038367, -8813439, -10946594, 688367, 1309597, -11018442, -10229186, -8702432, -12828735, -9665249, 1263391, -9714772, -10894341, -7442056, -11817970, 1035687]

# 56-bit md5 prefix, the repo-wide cross-engine hash (dedup.py
# D3_HEX_CHARS discipline): DuckDB twin is CAST('0x'||md5(t)[2:15] AS
# BIGINT). Non-negative, so % == pmod in both engines.
_HEX_CHARS = 14


def _bucket(t: Column) -> Column:
    return F.pmod(
        F.conv(F.substring(F.md5(t), 2, _HEX_CHARS), 16, 10).cast("long"),
        F.lit(N_BUCKETS),
    ).cast("int")


def quality_z_scaled(toks: Column) -> Column:
    """The integer decision value over a token array column.

    BIGINT-exact: C0*n + sum W[bucket(t)] + CD*d + CL*chars. keep is
    z >= 0. Callers tokenize with functions.text.tokens so both
    engines split identically."""
    n = F.size(toks).cast("long")
    warr = F.array(*[F.lit(x).cast("long") for x in W])
    wsum = F.aggregate(
        F.transform(toks, lambda t: F.element_at(warr, _bucket(t) + 1)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    d = F.size(F.array_distinct(toks)).cast("long")
    chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        F.lit(C0).cast("long") * n
        + wsum
        + F.lit(CD).cast("long") * d
        + F.lit(CL).cast("long") * chars
    )


def quality_z_scaled_sql(toks_expr: str) -> str:
    """The identical decision value as a DuckDB expression over a
    token-list expression (1-based list indexing, like the engine's
    element_at)."""
    wlist = "[" + ", ".join(f"{x}::BIGINT" for x in W) + "]"
    bucket = (
        f"CAST('0x' || md5(t)[2:{1 + _HEX_CHARS}] AS BIGINT) % {N_BUCKETS}"
    )
    return (
        f"({C0}::BIGINT * len({toks_expr})"
        f" + coalesce(list_sum(list_transform({toks_expr},"
        f" t -> ({wlist})[{bucket} + 1])), 0)"
        f" + {CD}::BIGINT * len(list_distinct({toks_expr}))"
        f" + {CL}::BIGINT * coalesce(list_sum(list_transform({toks_expr},"
        f" t -> length(t)::BIGINT)), 0))"
    )
