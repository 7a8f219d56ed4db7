"""empdia_iceberg_spark — a brand-new PySpark-native analytics engine.

Reproduces, Spark-first, the query/data-processing capabilities of the
reference repo MorningKay/EmpDia-Iceberg (see SURVEY.md) and extends
them into a general data-lake engine. Implemented and oracle-checked:

- relational OLAP core (joins, aggs, windows, set ops, scalar fns)
- reference semantics (dialogue prep, reward pipeline, termination,
  GRPO normalization, classifier stub, collate, splits)
- Structured Streaming (tumbling/sliding/session windows, watermark
  late-drop, stateful conversation machine via applyInPandasWithState)
- LLM-pipeline operators (exact + MinHash-LSH + SimHash dedup, cosine
  kNN + LSH ANN, text stats/quality/lang-id/fingerprint, multimodal
  binary-payload plumbing with a documented decode stub)
- snapshot table management on parquet (create/append/MERGE/time
  travel/expire/compact — the Iceberg-semantics fallback; no
  iceberg-spark-runtime jar ships in this environment) and write sinks

Importing this package imports only ``registry`` and ``session``; the
query registry (``empdia_iceberg_spark.registry``) imports the operator
modules on its first read, and ``__spark_entry__.py`` puts the names in
the driver's sweep order.
"""

import os

# The checkout holding this package. Default roots for engine-managed
# files sit under it, so each checkout (a copy of the tree included)
# keeps its own tables and caches.
CHECKOUT_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from empdia_iceberg_spark import registry  # noqa: F401,E402
from empdia_iceberg_spark.session import get_spark  # noqa: F401,E402

__all__ = ["registry", "get_spark"]
__version__ = "0.1.0"
