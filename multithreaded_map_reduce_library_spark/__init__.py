"""multithreaded_map_reduce_library_spark — a PySpark-native analytics engine.

Re-expresses the capability surface of the reference C11 pthreads MapReduce
library (``/root/reference``: scan -> flatMap -> hash shuffle -> sort within
partition -> group-by-key -> aggregate -> partitioned sink, plus a
Mapper/Reducer user-function API) as idiomatic Spark DataFrame plans, and
extends it with the relational and LLM-data-pipeline operators a 100 TB
training-data pipeline needs (dedup, similarity search, text analysis,
multimodal columns, streaming).

Design principles (see SURVEY.md §4, §7):
- DataFrame-first: declare logical plans, let Catalyst/Tungsten pick physical
  strategy. The reference's thread pool / mutexes / barrier / SJF scheduling
  are all subsumed by Spark's scheduler and shuffle (SURVEY.md §4).
- JVM-side expressions in hot paths; Arrow-batched pandas UDFs only where
  built-ins can't express the semantics; RDDs only in the MapReduce parity
  facade whose contract is literally "user function over a grouped iterator".
- Every operator is registered in ``plans.registry`` with a DuckDB oracle SQL
  string where the semantics are SQL-expressible.
"""

__version__ = "0.1.0"

from multithreaded_map_reduce_library_spark.session import get_spark, tune_python_worker  # noqa: F401

tune_python_worker()
