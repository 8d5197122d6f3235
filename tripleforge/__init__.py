"""tripleforge — a PySpark-native knowledge-graph construction engine.

Brand-new implementation of the capabilities of `jgrzebyta/triple-loader`
(a Clojure/RDF4J RDF loader + SPARQL tool), re-expressed Spark-first:
DataFrame/Catalyst plans end-to-end, Arrow-batched mapInArrow parsers,
no per-row Python on the hot path. Blueprint: SURVEY.md.
"""

__version__ = "0.1.0"
