"""Dump the physical plan of every superstep barrier of every iterative
graph operator, one file per operator, so two checkouts can be diffed
barrier by barrier.

A barrier is a ``DataFrame.localCheckpoint`` or ``DataFrame.checkpoint``
call. The script wraps those two pyspark methods (not any brahmand_spark
name), so it runs unchanged against any version of the operators: for
each call it records the frame's physical plan as Spark planned it
(before execution, with expression ids, plan ids and observation names
normalized) and then lets the checkpoint run.

The inputs are small fixture graphs (the shapes tests/test_algos.py
uses: a cyclic graph with tails, paths, a 48-cycle) plus the
``shortest_path`` Cypher gate over the TPC-H data in SF_DIR (the
tests use the sf0.001 smoke data).

Usage:

    python3 tools/dump_superstep_plans.py SF_DIR OUT_DIR [op ...]
    diff -r OUT_DIR_A OUT_DIR_B

Run it from the checkout whose code should be dumped (the script puts
its own checkout first on sys.path).
"""

from __future__ import annotations

import inspect
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# cyclic graph with tails and a second component (test_algos fixtures)
MIXED = [(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10),
         (11, 20), (20, 21), (21, 22), (1, 5), (5, 6), (7, 8), (8, 6)]
PATH14 = [(i, i + 1) for i in range(13)]
PATH30 = [(i, i + 1) for i in range(29)]
CYCLE48 = [(i, (i + 1) % 48) for i in range(48)]


def _ops(spark, sf_dir):
    from pyspark.sql import functions as F

    from brahmand_spark.ops import algos, walks

    def edges(pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    src0 = spark.createDataFrame([(0,)], "id long")
    weighted = edges(MIXED).withColumn(
        "weight", (F.col("src") + F.col("dst")) % 3 + 1)

    def shortest_path():
        import __spark_entry__ as entrymod

        gate = entrymod.queries(fresh=True)["shortest_path"]
        return gate(spark, sf_dir)

    return {
        "pagerank": lambda: algos.pagerank(edges(MIXED), iterations=7),
        "pagerank_personalized": lambda: algos.pagerank(
            edges(MIXED), iterations=3, sources=src0),
        "cc_hashmin_path14": lambda: algos.connected_components(
            edges(PATH14)),
        "cc_two_phase": lambda: algos.connected_components(
            edges(PATH30), algorithm="two-phase"),
        "bfs_distances": lambda: algos.bfs_distances(
            edges(PATH14), src0, max_hops=20),
        "sssp_weighted": lambda: algos.sssp_weighted(weighted, src0),
        "maximal_independent_set": lambda: algos.maximal_independent_set(
            edges(MIXED)),
        "label_propagation": lambda: algos.label_propagation(
            edges(PATH14 + MIXED), max_iterations=8),
        "k_core": lambda: algos.k_core(edges(PATH30 + MIXED), 2),
        "harmonic_centrality": lambda: algos.harmonic_centrality(
            edges(MIXED)),
        "betweenness_centrality": lambda: algos.betweenness_centrality(
            edges(PATH14), max_hops=4),
        "scc_mixed": lambda: algos.strongly_connected_components(
            edges(MIXED)),
        "scc_cycle48": lambda: algos.strongly_connected_components(
            edges(CYCLE48)),
        "random_walks": lambda: walks.random_walks(
            edges(MIXED), walk_length=10),
        "node2vec_walks": lambda: walks.node2vec_walks(
            edges(MIXED), walk_length=5, p=0.5, q=2.0),
        "shortest_path": shortest_path,
    }


_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "UUID"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def normalize(plan: str) -> str:
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "2g")
        .appName("superstep-plan-dump")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from brahmand_spark.io import configure

    configure(spark)

    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pyspark < 4
        from pyspark.sql import DataFrame

    barriers: list[str] = []

    def wrap(name):
        real = getattr(DataFrame, name)
        sig = inspect.signature(real)

        def hooked(self, *args, **kwargs):
            # arguments with defaults applied: localCheckpoint() and
            # localCheckpoint(eager=True) are the same barrier
            call = sig.bind(self, *args, **kwargs)
            call.apply_defaults()
            opts = ", ".join(f"{k}={v!r}" for k, v in call.arguments.items()
                             if k != "self")
            plan = self._jdf.queryExecution().executedPlan().toString()
            barriers.append(f"## barrier {len(barriers) + 1}: "
                            f"{name}({opts})\n{normalize(plan)}")
            return real(self, *args, **kwargs)

        setattr(DataFrame, name, hooked)

    wrap("localCheckpoint")
    wrap("checkpoint")

    for name, build in _ops(spark, sf_dir).items():
        if only and name not in only:
            continue
        barriers.clear()
        rows = build().count()
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(f"# {name}: {len(barriers)} barriers, {rows} rows\n\n")
            f.write("\n".join(barriers))
        print(f"{name}: {len(barriers)} barriers, {rows} rows -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
