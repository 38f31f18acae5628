"""dbus_spark — a PySpark-native streaming databus / CEP engine.

A from-scratch re-creation of the capabilities of funkygao/dbus
(reference: /root/reference, Go) on idiomatic PySpark: DataFrame /
Structured Streaming / applyInPandasWithState, with an idempotent
keyed sink providing exactly-once over the reference's at-least-once.

Layout
------
- ``dbus_spark.session``    — tuned SparkSession builder
- ``dbus_spark.schema``     — transcript + rows_event schemas
- ``dbus_spark.datagen``    — deterministic synthetic transcript tables
- ``dbus_spark.pipeline``   — config→DAG layer (dbus engine analog)
- ``dbus_spark.operators``  — windows, sessions, ordering state, joins,
                              dedup, similarity, text analysis
- ``dbus_spark.sources``    — batch/stream sources (MockInput analog)
- ``dbus_spark.sinks``      — idempotent keyed MERGE sink
- ``dbus_spark.streaming``  — listener metrics, checkpoint helpers
- ``dbus_spark.functions``  — scalar function surface (SURVEY.md §2.6)

Importing the package also stops zip importers from re-reading their
archives at the start of every Python task (``_worker_import``).
"""

from dbus_spark._worker_import import gate_zip_invalidation

__version__ = "0.1.0"

gate_zip_invalidation()
