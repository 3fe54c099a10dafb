"""bigdata_assigment3_spark — a PySpark-native analytics engine.

Re-expresses every analytic computation of the reference
(MGH7777/bigdata-assigment3: event-analytics REST service, Hough circle
detection, block-matching motion estimation, HMRF-EM segmentation) as
idiomatic Spark DataFrame/SQL operators, plus LLM-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal
columns).  See SURVEY.md for the operator inventory this implements.

Worker code: the package is registered with cloudpickle to pickle by
value, so a UDF, a ``mapInPandas``/``applyInPandas`` kernel or a
DataSource class may call any package function — it ships with the
closure — and worker code never imports the package (a Python worker
of a bare driver session cannot).  Import what a kernel needs on the
driver side, at module level or in the query function around it.
"""

import sys

from pyspark import cloudpickle

from .registry import REGISTRY, query_fns, oracle_sqls  # noqa: F401
from .session import get_spark, ensure_session_conf  # noqa: F401

cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["REGISTRY", "query_fns", "oracle_sqls", "get_spark", "ensure_session_conf"]
