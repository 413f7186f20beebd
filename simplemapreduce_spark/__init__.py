"""simplemapreduce_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
MapReduce framework (drinkbeer/SimpleMapReduce, surveyed in SURVEY.md)
as an idiomatic Spark DataFrame/SQL engine, extended with the
relational operator catalog and LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing)
that a 100 TB training-data pipeline needs.

Design principles (see SURVEY.md §7):
  * DataFrame/SQL first — declare logical plans, let Catalyst pick
    physical strategy (pushdown, pruning, join selection, AQE).
  * The reference's generic map→shuffle→group→reduce→sort dataflow
    survives as a thin compatibility API (`operators.map_reduce`);
    everything else is native Spark operators.
  * UDFs only where built-ins can't express the semantics, and then
    Arrow-batched (pandas_udf / applyInPandas / mapInPandas / mapInArrow).
"""

from simplemapreduce_spark.session import get_spark
from simplemapreduce_spark.sources.tables import TABLE_NAMES, load_table, register_tables

__all__ = ["get_spark", "TABLE_NAMES", "load_table", "register_tables"]

__version__ = "0.1.0"
