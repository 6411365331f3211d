"""vicinity_spark — a PySpark-native vector analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of
MinishLab/vicinity (a single-process in-memory vector store, see
/root/reference/vicinity/vicinity.py:1): batched k-NN top-k search,
radius (threshold) search, pluggable index strategies (exact, LSH,
IVF), insert/delete, persistence, and recall/QPS evaluation — plus
the large-scale data-pipeline operators a 100 TB corpus needs
(dedup, similarity join, text analysis, multimodal columns).

Everything is declared with the DataFrame API so Catalyst/Tungsten
pick the physical strategy; Python UDFs appear only where built-in
operators cannot express the semantics.
"""

from pyspark import TaskContext

from vicinity_spark.datatypes import Backend, Metric
from vicinity_spark.session import freeze_zip_finders
from vicinity_spark.store import VectorStore

__version__ = "0.1.0"

__all__ = ["Backend", "Metric", "VectorStore", "__version__"]

# Unpickling any library kernel imports this package, so a Python
# worker runs this once, at its first library task.
if TaskContext.get() is not None:
    freeze_zip_finders()
