"""PySpark-native analytics engine with the query/data-processing surface of
arthur5775/ISEN_projet_BigData_A3S6 (reference: a single R analytics script,
``R_groupe4.R``), re-expressed Spark-first.

Layout
------
- ``session``      SparkSession factory sized to the host (CPU affinity,
                   half of MemTotal) and the session contract
- ``sources``      the parquet reader and sinks (CSV/JSON/ORC, layouts)
- ``operators``    relational operators: cleaning, projection, filters,
                   joins (incl. 1-NN spatial), aggregations, windows, set ops
- ``functions``    scalar/column function library: strings, geo (CRS), text
                   analysis, near-dup (MinHash/SimHash), similarity search
- ``stats``        statistics as DataFrames: cov/corr pairs, chi-square,
                   ANOVA, closed-form OLS, rank tests
- ``ml``           fits as one-pass aggregates (IRLS logistic, k-means, PCA),
                   train/test evaluation; ``ml.pipeline`` holds the Spark ML
                   references for tests
- ``plans``        the reference's six-part pipeline over a ``trees`` table
- ``streaming``    event-time windows (tumbling/sliding/session), stream-
                   stream joins, stateful operators, restart recovery
- ``multimodal``   binary image/audio columns: batch decode plumbing (stubs)

Everything is DataFrame/SQL-first so Catalyst handles pushdown, pruning,
join strategy and AQE; Python UDFs appear only where Spark has no builtin
(CRS reprojection) and then only as Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"
