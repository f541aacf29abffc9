"""The driver's query registry and its DuckDB twins.

``queries.QUERIES`` maps the 50 operator-family names to Spark builders
over the testdata tables, ``queries.ORACLES`` to the equivalent DuckDB
SQL; the ``oracle_*`` modules recompute the engine's hash, MinHash, IVF
and PQ kernels in SQL for those oracles. This package is a client of
``imcs_spark`` — nothing in the engine imports it.
"""
