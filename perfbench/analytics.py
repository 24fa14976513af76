"""``analytics_sf01``: registry queries over seeded TPC-H-ish tables.

Each operation builds one query with ``QUERIES[name](spark, sf_dir)``
(the build phase) and writes it to the ``noop`` sink (the execute
phase). The seed fixes the generated tables and the order of each pass.
None of these queries touches the FGAC warehouse or streaming, so
policy and warehouse work do nothing here.

The warm-up pass collects every query's rows; after the timed window
each result is compared with the query's DuckDB ``ORACLE`` SQL over the
same parquet files, using the comparison ``tests/test_oracle_parity.py``
uses.
"""

from __future__ import annotations

import importlib.util
import os
import time

import numpy as np

from perfbench import sfgen

SCALE = 0.005
# One query from each of the ten operator modules, preferring the
# ROADMAP's build-heavy and perf-weak ones (connected components, PQ
# ANN) and a pandas UDAF (the Python/Arrow worker). A warm pass takes
# ~6 s on 4 cores; the 31-query list in README.md takes ~17 s, too
# long for a run of about a minute.
QUERY_NAMES = (
    "q1_pricing_summary",
    "dedup_connected_components",
    "ann_pq_adc",
    "tfidf_top_terms",
    "asof_join_click_purchase",
    "kruskal_wallis_priority",
    "graph_pagerank_trade",
    "multimodal_image_stats",
    "udaf_weighted_discount",
    "curation_pipeline",
)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def oracle_canon():
    """``canon`` from the repository's oracle-parity test, so the
    benchmark compares rows exactly as the test suite does."""
    path = os.path.join(ROOT, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("_oracle_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def plan_shape(df) -> dict:
    """Time planning of the executed plan before execution, and count
    its Exchanges and its lineage barriers (LogicalRDD leaves)."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    plan = qe.executedPlan().toString()
    ms = (time.perf_counter() - t0) * 1000.0
    return {
        "ms": ms,
        "exchanges": sum("Exchange" in ln for ln in plan.splitlines()),
        "barriers": qe.optimizedPlan().toString().count("LogicalRDD"),
    }


class Analytics:
    min_ops = len(QUERY_NAMES)  # at least one whole pass
    warm_first = False  # the warm-up pass runs on the last tables generated, which the checks read

    def __init__(self, run) -> None:
        from sample_emr_on_eks_fgac_iceberg_spark.operators import ORACLE, QUERIES

        self.run = run
        self.queries = QUERIES
        self.oracle = ORACLE
        self.sf_dir = None
        self.results: dict = {}

    def setup_data(self, rep: int) -> None:
        out = self.run.path(f"sf-{rep}")
        sfgen.write(sfgen.generate(self.run.seed, SCALE), out)
        self.sf_dir = out

    def reset(self) -> None:
        """Nothing to undo: queries only read, and each ``steps()``
        starts the same seeded pass order."""

    def warmup(self) -> None:
        """One pass that collects every query's rows for the check."""
        spark = self.run.spark
        for name in QUERY_NAMES:
            self.results[name] = self.queries[name](spark, self.sf_dir).toPandas()
            self.run.release_blocks()

    def _query_op(self, name: str) -> None:
        run = self.run
        run.op(
            name, "read",
            build=lambda: self.queries[name](run.spark, self.sf_dir),
            execute=lambda df: df.write.format("noop").mode("overwrite").save(),
            module=self.queries[name].__module__.rsplit(".", 1)[-1],
            plan=plan_shape,
        )
        run.release_blocks()

    def steps(self):
        """One step per pass, so a window holds whole passes and every
        query the same number of times; the seed sets each pass's order."""
        rng = np.random.default_rng([self.run.seed, 1])
        while True:
            order = [QUERY_NAMES[i] for i in rng.permutation(len(QUERY_NAMES))]
            yield lambda order=order: [self._query_op(name) for name in order]

    def verify(self) -> None:
        import duckdb

        from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import TABLE_NAMES

        canon = oracle_canon()
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name in QUERY_NAMES:
                got = self.results[name]
                exp = con.sql(self.oracle[name]).arrow().to_pandas(date_as_object=True)
                same_cols = sorted(got.columns) == sorted(exp.columns)
                self.run.check(
                    f"oracle {name}",
                    same_cols and canon(got) == canon(exp),
                    f"{len(got)} rows vs oracle {len(exp)}",
                )
        finally:
            con.close()
