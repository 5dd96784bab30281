"""fiat2-spark: a PySpark-native analytics engine with the query and
data-processing capabilities of mit-plv/fiat2.

Not a port of the reference's Coq interpreter — an idiomatic Spark SQL /
Catalyst design exposing fiat2's logical surface (typed expressions over
lists/bags/sets of records, relational operators, folds/aggregates, a
driver-side command layer, and incremental index/aggregate maintenance)
plus large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns).

Layout:
  session    — SparkSession bootstrap tuned for local testing / cluster scale
  catalog    — table reads over the test corpus, and ``resident``
  functions  — scalar semantics (Coq floor div/mod, word arith, null-safe eq)
  operators  — relational + aggregate + data-pipeline operators
  plans      — the fiat2 expression/command AST, typechecker, compiler
               to DataFrame plans (Catalyst does the physical optimization),
               and the command interpreter over the Gstore (``interp.Store``)
  streaming  — incremental view maintenance + Structured Streaming surface
"""

from fiat2_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
