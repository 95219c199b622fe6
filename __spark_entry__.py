"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the full webtext pipeline (extract -> langid ->
quality -> scrub -> relevance -> dedup -> leak-check) over sf0.001 documents
mapped into the input-hint shape.

queries()/oracle_sql() — one entry per implemented operator from SURVEY.md §2
plus the training-data ops (dedup family, ANN, text analysis, multimodal).
All 46 queries carry a DuckDB oracle: 45 are exact value-arithmetic mirrors
(down to IEEE addition order and JS int32/rounding semantics —
scrubah_pii_spark/oracles_sql.py); pipeline_flagship (the composition
embedding the sequential scrub cascade) uses an expected-output oracle — the
committed full-row golden at the driver's correctness sf
(tests/golden/flagship_oracle_sf001.json, regenerated only for deliberate
semantic changes via tools/gen_flagship_oracle_pure.py), itself gated by the
JS-parity harness + url-keyed sf0.01/sf0.1 hash goldens + fuzz suites +
per-stage oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scrubah_pii_spark.entry_queries import QUERIES, oracle_map, q_pipeline_flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pipeline_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return oracle_map()
