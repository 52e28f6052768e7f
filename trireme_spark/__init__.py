"""trireme_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of o19s/trireme, rebuilt Spark-first.

Provenance note: the reference checkout at /root/reference/ was EMPTY at
survey time (see SURVEY.md §0), so the capability surface is defined by the
driver contract (BASELINE.json, __spark_entry__.py, TESTDATA.md) and
SURVEY.md §2's operator inventory. No code is, or could be, derived from the
reference.

Architecture (SURVEY.md §3.2/§4): everything is declarative DataFrame/SQL
algebra handed to Catalyst — zero custom plan rules, zero JVM code. Python
UDFs appear only where §2 explicitly demands a UDF surface (x1–x5) or where
the semantics are not expressible in built-ins; they are Arrow/pandas
vectorized, never row-at-a-time in hot paths.

Layout:
  _zipimport.py — stat-checked zipimport cache invalidation for Python
                 workers (< 3.13); imported first, see its docstring
  session.py   — pinned SparkSession factory + runtime prep for foreign sessions
  registry.py  — (key → query fn, key → oracle SQL) registry; the driver
                 contract surface consumed by __spark_entry__.py
  parity.py    — Spark-side helpers that make float/timestamp results
                 bit-identical to the DuckDB oracle (SURVEY.md §5.3 traps)
  sources/     — table loaders + source/sink interfaces (parquet impl;
                 Cassandra/Solr connector formats documented as drop-ins)
  operators/   — reusable operator compositions Spark lacks natively
                 (as-of join, minhash/LSH, set-similarity join, ANN)
  functions/   — scalar/text function helpers (tokenization, fingerprints)
  streaming/   — Structured Streaming builders mirroring the batch queries
  queries/     — one module per SURVEY.md §2 group; importing this package
                 registers every query key
"""

from trireme_spark import _zipimport  # noqa: F401  (first: worker import cost)
from trireme_spark import registry  # noqa: F401
from trireme_spark import queries  # noqa: F401  (side-effect: registers keys)

__version__ = "0.1.0"
