"""pyspark_postgres_loader_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the capability surface of the
reference ETL pipeline ``shaan0056/pyspark-postgres-loader`` (sources →
schema-aligned cast projection → keyed idempotent upsert sink with error
quarantine + load stats; see ``/root/reference/``), extended into a real
analytics surface: relational operators, deduplication, similarity
search, text analysis, multimodal columns, and structured streaming —
all expressed through the DataFrame/SQL API so Catalyst + Tungsten pick
the physical strategy.

Design stance (SURVEY.md §7): DataFrame end-to-end; Python touches rows
only inside the upsert sink and clearly-marked Pandas-UDF operators.
"""

__version__ = "0.1.0"

# Unpickling any by-reference engine function imports this package, so
# every Python worker that runs an engine task installs the guard.
from .workerenv import install as _install_worker_env

_install_worker_env()
