"""duckdb_gsheets_spark — a PySpark-native analytics engine with the
capabilities of the ``evidence-dev/duckdb_gsheets`` DuckDB extension.

The reference (/root/reference, see SURVEY.md) is a Google-Sheets
connector: a table function (``read_gsheet``), a COPY TO sink
(``FORMAT gsheet``) and an auth/secret layer; every relational operator
is delegated to the host engine.  Here the same split is expressed
Spark-first:

* ``sources.gsheets`` — a Python Data Source (Spark 4.x
  ``pyspark.sql.datasource``) registered as format ``"gsheets"``, plus
  the pure-Python Sheets client/auth/A1 layer it is built on.
* ``operators`` / ``functions`` — the relational surface the reference
  gets from DuckDB core, expressed as DataFrame builders over Spark SQL
  (Catalyst supplies optimization), plus large-scale training-data ops
  (dedup, similarity search, text analysis) that go beyond the
  reference.
* ``plans`` — session construction and table catalog helpers.
"""

from duckdb_gsheets_spark.version import __version__

__all__ = ["__version__"]
