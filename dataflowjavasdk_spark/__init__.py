"""dataflowjavasdk_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of GoogleCloudPlatform/DataflowJavaSDK
(the Google Cloud Dataflow SDK for Java, origin of the Apache Beam model;
reference snapshot: /root/reference/README.md:17-28).

Architecture: a thin, Beam-shaped API that compiles to Spark DataFrame /
Structured Streaming plans. No custom runner, scheduler, shuffle, or IR —
Catalyst + Tungsten are the optimizer and execution engine (SURVEY.md §3-4).
"""

from dataflowjavasdk_spark import _zipcache  # noqa: F401  (first: see its docstring)
from dataflowjavasdk_spark.session import get_spark, configure_session
from dataflowjavasdk_spark.sources.tables import load_table, load_tables, TABLE_NAMES

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "configure_session",
    "load_table",
    "load_tables",
    "TABLE_NAMES",
    "__version__",
]
