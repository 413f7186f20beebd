"""The benchmark's workloads: what each one generates, runs and checks.

A workload turns a seed into inputs (``generate``) and the inputs into
an ordered list of ``Query`` objects. Each query has a build step that
returns a DataFrame, a sink that runs it, and an output check. Engine
functions are always reached through their module attribute at call
time, so the tracing wrappers in ``perfbench.spans`` see every call.
"""

from __future__ import annotations

import importlib
import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import fixtures


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable  # (spark) -> DataFrame
    sink: Callable  # (DataFrame) -> None
    check: Callable  # (spark) -> None; runs the query once more, raises on a wrong output
    streaming: bool = False


@dataclass(frozen=True)
class Inputs:
    root: str
    input_bytes: int
    items: dict = field(default_factory=dict)


def noop_sink(df) -> None:
    """Run every operator of the plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- catalog


@dataclass(frozen=True)
class CatalogWorkload:
    """Catalog queries over the generated star schema, each run through
    the noop sink and checked against its DuckDB oracle."""

    name: str
    query_names: tuple[str, ...]
    sizes: fixtures.TableSizes
    timed_passes: int  # passes the end-to-end metrics are computed over
    warm_passes: int = 0  # untimed passes between the output check and timing

    def generate(self, root: str, seed: int) -> Inputs:
        sf_dir = os.path.join(root, "tables")
        n = fixtures.write_tables(sf_dir, seed, self.sizes)
        return Inputs(root, n, {"sf_dir": sf_dir})

    def queries(self, inputs: Inputs) -> list[Query]:
        from simplemapreduce_spark import catalog

        sf_dir = inputs.items["sf_dir"]
        out = []
        for name in self.query_names:
            fn = catalog.QUERIES[name]
            out.append(
                Query(
                    name=name,
                    build=lambda spark, fn=fn: fn(spark, sf_dir),
                    sink=noop_sink,
                    check=lambda spark, name=name: check_against_oracle(spark, name, sf_dir),
                    streaming=fn.__module__.startswith("simplemapreduce_spark.streaming"),
                )
            )
        return out


def check_against_oracle(spark, name: str, sf_dir: str) -> None:
    from simplemapreduce_spark import catalog
    from tests.oracle_utils import compare_query

    compare_query(spark, catalog.QUERIES[name], catalog.ORACLES[name], sf_dir)


# ------------------------------------------------------------- map_reduce
# mapF / reduceF pairs in the reference's shape. Module-level so the
# Python workers import them by reference.


def word_count_map(row: dict):
    for word in row["contents"].split():
        yield word, "1"


def word_count_reduce(key: str, values: list[str]) -> str:
    return str(sum(int(v) for v in values))


def inverted_index_map(row: dict):
    name = row["filename"].rsplit("/", 1)[-1]
    for word in set(row["contents"].split()):
        yield word, name


def inverted_index_reduce(key: str, values: list[str]) -> str:
    names = sorted(set(values))
    return f"{len(names)} {','.join(names)}"


MR_FUNCTIONS = {
    "word_count": (word_count_map, word_count_reduce),
    "inverted_index": (inverted_index_map, inverted_index_reduce),
}


def expected_key_value_bytes(job_dir: str, kind: str) -> bytes:
    """The sorted ``key: value`` file the job must produce, computed in
    plain Python from the corpus files."""
    counts: Counter[str] = Counter()
    postings: dict[str, set[str]] = {}
    for fname in sorted(os.listdir(job_dir)):
        with open(os.path.join(job_dir, fname)) as fh:
            words = fh.read().split()
        counts.update(words)
        for w in set(words):
            postings.setdefault(w, set()).add(fname)
    if kind == "word_count":
        pairs = {k: str(v) for k, v in counts.items()}
    else:
        pairs = {k: f"{len(v)} {','.join(sorted(v))}" for k, v in postings.items()}
    return "".join(f"{k}: {pairs[k]}\n" for k in sorted(pairs)).encode()


def read_key_value_output(out_dir: str) -> bytes:
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    data = b""
    for f in parts:
        with open(os.path.join(out_dir, f), "rb") as fh:
            data += fh.read()
    return data


def check_key_value_output(out_dir: str, expected: bytes) -> None:
    got = read_key_value_output(out_dir)
    if got != expected:
        n = next((i for i, (a, b) in enumerate(zip(got, expected)) if a != b), min(len(got), len(expected)))
        raise AssertionError(
            f"{out_dir}: output differs from the expected file at byte {n} "
            f"(got {len(got)} bytes, expected {len(expected)})"
        )


@dataclass(frozen=True)
class MapReduceWorkload:
    """The reference's contract: whole text files → mapF → hash shuffle →
    holistic reduceF → one sorted ``key: value`` file per job."""

    name: str
    corpus: fixtures.CorpusSpec
    timed_passes: int  # passes the end-to-end metrics are computed over
    warm_passes: int = 0  # untimed passes between the output check and timing
    kinds: tuple[str, ...] = ("word_count", "inverted_index")

    def generate(self, root: str, seed: int) -> Inputs:
        job_dirs = fixtures.write_corpus(os.path.join(root, "corpus"), seed, self.corpus)
        n = sum(
            os.path.getsize(os.path.join(d, f)) for d in job_dirs for f in os.listdir(d)
        )
        return Inputs(root, n, {"job_dirs": job_dirs})

    def queries(self, inputs: Inputs) -> list[Query]:
        out = []
        for i, job_dir in enumerate(inputs.items["job_dirs"]):
            kind = self.kinds[i % len(self.kinds)]
            out_dir = os.path.join(inputs.root, "output", f"{kind}_{i:02d}")
            out.append(
                Query(
                    name=f"{kind}_{i:02d}",
                    build=lambda spark, d=job_dir, k=kind: build_map_reduce(spark, d, k),
                    sink=lambda df, o=out_dir: write_key_value(df, o),
                    check=lambda spark, d=job_dir, k=kind, o=out_dir: check_map_reduce(spark, d, k, o),
                )
            )
        return out


def build_map_reduce(spark, job_dir: str, kind: str):
    # Modules, not names: ``operators`` re-exports the function under
    # the module's own name.
    mr = importlib.import_module("simplemapreduce_spark.operators.map_reduce")
    text = importlib.import_module("simplemapreduce_spark.sources.text")

    map_f, reduce_f = MR_FUNCTIONS[kind]
    files = text.read_whole_files(spark, job_dir)
    # nReduce = one reduce task per core, as the reference fixes nReduce
    # per job; left to AQE, this small shuffle would be coalesced into a
    # single reduce task and key skew could not show. The sink sorts by
    # key (the reference's merge step), so the operator's own sort would
    # be a second one.
    n_reduce = spark.sparkContext.defaultParallelism
    return mr.map_reduce(files, map_f, reduce_f, n_partitions=n_reduce, sort=False)


def check_map_reduce(spark, job_dir: str, kind: str, out_dir: str) -> None:
    write_key_value(build_map_reduce(spark, job_dir, kind), out_dir)
    check_key_value_output(out_dir, expected_key_value_bytes(job_dir, kind))


def write_key_value(df, out_dir: str) -> None:
    from simplemapreduce_spark import sinks

    sinks.write_key_value_text(df, out_dir)


# ------------------------------------------------------------------ table

WORKLOADS = {
    w.name: w
    for w in (
        CatalogWorkload(
            name="tpch_llm",
            query_names=(
                # TPC-H analytics: parquet table loading, scans, joins
                "q1_pricing_summary",
                "q3_shipping_priority",
                # LLM pipeline: a memoised shared subtree and a streaming drain
                "q_text_tfidf",
                "q_stream_tumbling",
            ),
            sizes=fixtures.TableSizes(orders=1_500, documents=500, embeddings=500, events=1_000),
            # 24 query samples: the tail is p58, the 14th fastest
            timed_passes=6,
            # The JIT is still compiling Spark's planning paths after the
            # set-up and check passes; see README.
            warm_passes=4,
        ),
        MapReduceWorkload(
            name="mr_corpus",
            corpus=fixtures.CorpusSpec(
                jobs=2, files_per_job=16, tokens_per_file=400, vocab=100, zipf_s=1.1
            ),
            # 12 query samples: the "tail" is p16, the second fastest; see README
            timed_passes=6,
        ),
    )
}

# A tiny corpus for the benchmark's own smoke test (``run.py --smoke``);
# the ``tpch_llm`` tables are already of sf0.001 size.
SMOKE_WORKLOADS = {
    "mr_corpus": MapReduceWorkload(
        name="mr_corpus",
        corpus=fixtures.CorpusSpec(jobs=2, files_per_job=2, tokens_per_file=50, vocab=20),
        timed_passes=WORKLOADS["mr_corpus"].timed_passes,
    ),
}
