"""multi_model_vectorsearch_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference system ``leoantony72/multi_model_vectorSearch`` (a Redis/CLIP/NetworkX
multi-modal semantic-search stack), re-expressed idiomatically on Spark
DataFrame / SQL / Catalyst / Structured Streaming, and extended with the
operators a large-scale LLM training-data pipeline needs (dedup, similarity
search, multimodal columns, text analysis).

Design principles (see SURVEY.md for the full blueprint):

- Declarative plans: every operator is a DataFrame/SQL composition so Catalyst
  handles pushdown, pruning, join selection, and AQE re-planning.
- JVM-side execution where the plan is relational: the registry's vector
  math uses higher-order SQL functions (``aggregate``/``zip_with``/
  ``transform``), and joins, windows and aggregates stay in Catalyst.
  Python runs in three places: the pandas UDFs at the model-inference
  boundary (embedding), the ``_top_pool`` dgemm kernel in
  ``mapInPandas`` that scores the ``/submit`` KNN, every ``/search``
  pool and the graph builds (``streaming/ingest.py``), and the driver
  side of serving (query embedding, probe selection, the balanced finish
  and the 1-hop expansion).
- Scale-first: small dimensions are broadcast, top-k is planned as
  ``TakeOrderedAndProject``, per-query KNN never collects the corpus.
"""

__version__ = "0.1.0"

from multi_model_vectorsearch_spark.session import get_spark  # noqa: F401
from multi_model_vectorsearch_spark.sources.registry import load_tables  # noqa: F401
