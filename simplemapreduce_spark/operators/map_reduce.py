"""Generic map→shuffle→group→reduce→sort compatibility API.

Reproduces the reference's entire query surface — two user functions
over untyped string pairs — on Spark:

* ``mapF(filename, contents) -> [KeyValue]``: UDTF-shaped, consumed at
  /root/reference/src/common/common_map.go:64-71. Here: ``map_f`` over
  an input DataFrame via Arrow-batched ``mapInPandas`` (1 row → 0..n
  ``(key, value)`` pairs).
* hash partition by key (FNV mod nReduce, common_map.go:72-77,
  common.go:61-66). Here: Spark's hash shuffle — the observable
  contract (equal keys co-located) is identical; the hash function is
  not observable in outputs (SURVEY.md §2.1 row 3).
* group values per key + holistic ``reduceF(key, values) -> value``
  (common_reduce.go:51-87, called once per distinct key with ALL
  values). Here: ``repartition(key)`` → ``sortWithinPartitions(key)``
  → one ``mapInArrow`` call per partition that walks each run of equal
  keys and calls ``reduce_f`` once per key with all of its values. A
  run may span Arrow batches; only the current key's values are held.
  Unlike Spark's native aggregates there is no map-side combine:
  reduceF is holistic, as in the reference (SURVEY.md §7.3).
* global lexicographic sort of string keys
  (/root/reference/src/mapreduce/master.go:112-116). Here:
  ``orderBy("key")`` — a range-partitioned external sort; or
  ``sort=False`` and let the sink sort (``sinks.write_key_value_text``).

At scale: the map side streams Arrow batches through ``mapInPandas``,
so a partition is never materialized in Python memory; the reduce side
sorts in the JVM (spilling as needed) and holds one key-group at a
time in Python (reference contract). For aggregates expressible with
built-ins, callers should bypass this API — it exists for parity, not
as the fast path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

# mapF: (row-as-dict) -> iterable of (key, value) string pairs.
MapF = Callable[[dict], Iterable[tuple[str, str]]]
# reduceF: (key, list-of-values) -> single output value.
ReduceF = Callable[[str, list[str]], str]


def map_pairs(df: DataFrame, map_f: MapF) -> DataFrame:
    """Apply the UDTF-shaped map function: each input row yields 0..n
    (key, value) string pairs. Arrow-batched; rows are handed to
    ``map_f`` as plain dicts (the reference handed (filename,
    contents); any input schema is allowed here)."""

    from simplemapreduce_spark.session import ensure_package_shipped
    from simplemapreduce_spark.sources.tables import ensure_parallelism

    ensure_package_shipped(df.sparkSession)
    df = ensure_parallelism(df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            keys: list[str] = []
            values: list[str] = []
            for row in batch.to_dict("records"):
                for k, v in map_f(row):
                    keys.append(k)
                    values.append(v)
            yield pd.DataFrame({"key": keys, "value": values})

    return df.mapInPandas(run, schema=KV_SCHEMA)


def reduce_pairs(pairs: DataFrame, reduce_f: ReduceF, n_partitions: int | None = None) -> DataFrame:
    """Group all values per key and apply the holistic reduce once per
    distinct key. ``n_partitions`` mirrors the reference's nReduce —
    omit to let AQE choose."""
    from simplemapreduce_spark.session import ensure_package_shipped

    ensure_package_shipped(pairs.sparkSession)
    if n_partitions is not None:
        pairs = pairs.repartition(n_partitions, "key")
    else:
        pairs = pairs.repartition("key")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # Keys arrive sorted, so equal keys form one run, which may
        # continue into the next batch. ``values`` collects the open run.
        key, values = _NO_KEY, []
        for batch in batches:
            out_keys: list[str | None] = []
            out_values: list[str | None] = []
            runs = pc.run_end_encode(batch.column("key"))
            batch_values = batch.column("value").to_pylist()
            start = 0
            for run_key, end in zip(runs.values.to_pylist(), runs.run_ends.to_pylist()):
                if run_key != key:
                    if key is not _NO_KEY:
                        out_keys.append(key)
                        out_values.append(reduce_f(key, values))
                    key, values = run_key, []
                values.extend(batch_values[start:end])
                start = end
            if out_keys:
                yield _kv_batch(out_keys, out_values)
        if key is not _NO_KEY:
            yield _kv_batch([key], [reduce_f(key, values)])

    return pairs.sortWithinPartitions("key").mapInArrow(run, schema=KV_SCHEMA)


_NO_KEY = object()


def _kv_batch(keys: list, values: list) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(keys, pa.string()), pa.array(values, pa.string())], names=["key", "value"]
    )


def map_reduce(
    df: DataFrame,
    map_f: MapF,
    reduce_f: ReduceF,
    n_partitions: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """Full reference dataflow: map → hash shuffle → group → holistic
    reduce → (optional) global lexicographic key sort.

    Output invariants matching the reference:
    * exactly one row per distinct key (common_reduce.go:84-86);
    * ``sort=True`` orders by the STRING key — ``"10" < "2"``
      (master.go:116, sort.Strings semantics).
    """
    out = reduce_pairs(map_pairs(df, map_f), reduce_f, n_partitions)
    return out.orderBy(F.col("key").asc()) if sort else out


def map_reduce_rdd(
    df: DataFrame,
    map_f: MapF,
    reduce_f: ReduceF,
    n_partitions: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """RDD-level twin of map_reduce() for callers who want the classic
    pair-RDD surface (flatMap → groupByKey → mapValues). Same output
    contract; the DataFrame path is preferred (Tungsten + Arrow), this
    exists for API parity with Spark's RDD lineage of the MapReduce
    model.

    groupByKey (not reduceByKey/combineByKey) is deliberate: reduceF is
    holistic — called once per key with ALL values, the reference
    contract (/root/reference/src/common/common_reduce.go:56,85) — so
    there is nothing associative to combine map-side.
    """
    from simplemapreduce_spark.session import ensure_package_shipped

    spark = df.sparkSession
    ensure_package_shipped(spark)
    pairs = df.rdd.flatMap(lambda row: list(map_f(row.asDict())))
    grouped = (
        pairs.groupByKey(n_partitions) if n_partitions else pairs.groupByKey()
    )
    reduced = grouped.map(lambda kv: (kv[0], reduce_f(kv[0], list(kv[1]))))
    out = spark.createDataFrame(reduced, KV_SCHEMA)
    return out.orderBy(F.col("key").asc()) if sort else out
