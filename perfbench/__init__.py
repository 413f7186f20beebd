"""Benchmark of the simplemapreduce_spark engine; see README.md."""
