"""The ``curation_kernels`` workload: registry queries checked against
their DuckDB oracle.

A pass runs every query of the mix once, in an order drawn from the seed.
Each query is two timed calls: ``fn(spark, sf_dir)`` (build, which
includes any eager jobs the query runs while it is planned) and
``collect()`` (execute). The collected rows are then compared, untimed,
with the oracle SQL's result on the same parquet files, using the repo's
oracle comparison (``tests/oracle.py``).

``known_defects`` runs ``dedup_simhash_probe`` once more, untimed, over
the sf0.1 ``documents`` table and checks it against its oracle: at that
scale the query is known to return 310 rows where the oracle returns
312. The runner calls it in traced runs and reports the outcome by name
beside the result; it is not one of the workload's operations, which
all pass their checks on this data.
"""

from __future__ import annotations

import os
import random

from perfbench.harness import Recorder
from perfbench.workload import Op, Pass, first_line

# LLM-pipeline operators whose executor time is mostly Python workers
# behind the Arrow boundary (run time minus JVM CPU time is 80-97 % of
# executor run time at sf0.01; about half for dedup_lsh_pairs), and
# graph_pagerank for the iterative loop (30 jobs, nearly all of its time
# inside fn()). dedup_simhash_probe is also the one query known to
# mismatch its oracle at sf0.1. Warm at sf0.01 on 4 cores they take 0.6, 0.7,
# 1.2, 2.4 and 3.1 s, so the median query of a pass (read_p50_s) is one
# query well apart from its neighbours, not the slowest of a close group.
CURATION_KERNELS = (
    "dedup_simhash_probe",
    "text_winnow_fingerprints",
    "multimodal_mp3_bitstream_decode",
    "dedup_lsh_pairs",
    "graph_pagerank",
)
KNOWN_DEFECT = "dedup_simhash_probe"


def duck_connect(sf_dir: str):
    """A DuckDB connection with a view over each parquet table in
    ``sf_dir``. Unlike ``tests.oracle.duck_connect`` it needs no full set
    of tables: the sf0.1 directory holds only what the known-defect check
    reads."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_result(sf_dir: str, queries) -> dict[str, tuple[list[str], list[tuple]]]:
    """Column names and rows of each query's oracle SQL over ``sf_dir``."""
    con = duck_connect(sf_dir)
    try:
        out = {}
        for q in queries:
            res = con.execute(q.oracle)
            out[q.name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def udf_profile_by_id(spark) -> dict[int, float]:
    """Seconds the UDF perf profiler has recorded so far, per UDF id."""
    results = spark._profiler_collector._perf_profile_results
    return {uid: st.total_tt for uid, st in results.items()}


class CurationKernels:
    def __init__(self, spark, rec: Recorder, sf_dir: str, sf01_dir: str, seed: int) -> None:
        from rtcdb_spark.queries import REGISTRY

        self.spark, self.rec, self.sf_dir, self.sf01_dir = spark, rec, sf_dir, sf01_dir
        self.queries = [REGISTRY[n] for n in CURATION_KERNELS]
        self.rng = random.Random(seed)
        self.expected = oracle_result(sf_dir, self.queries)

    def _check(self, q, cols, rows, expected) -> str | None:
        """The oracle comparison's first line when ``rows`` differ."""
        from tests.oracle import compare

        exp_cols, exp_rows = expected
        try:
            compare(cols, [tuple(r) for r in rows], exp_cols, exp_rows, q.name)
        except AssertionError as exc:
            return first_line(exc)
        return None

    def run_pass(self) -> Pass:
        order = list(self.queries)
        self.rng.shuffle(order)
        out = Pass(0.0)
        for q in order:
            prof0 = udf_profile_by_id(self.spark) if self.rec.tracing else None
            rows, cols, error = None, None, None
            with self.rec.span(f"query:{q.name}") as sp:
                try:
                    with self.rec.span("queries.build"):
                        df = q.fn(self.spark, self.sf_dir)
                    with self.rec.span("queries.execute"):
                        rows = df.collect()
                    cols = list(df.columns)
                except Exception as exc:  # one failed query must not end the run
                    error = first_line(exc)
            if prof0 is not None:
                prof1 = udf_profile_by_id(self.spark)
                sp.attrs["udf_profile_s"] = {
                    uid: t - prof0.get(uid, 0.0)
                    for uid, t in prof1.items()
                    if t > prof0.get(uid, 0.0)
                }
            if error is None:
                error = self._check(q, cols, rows, self.expected[q.name])
            out.ops.append(Op(q.name, "read", sp.seconds, error is None, error))
            # Operators persist() loop-invariant frames they cannot
            # unpersist after returning a lazy DataFrame; clear them so
            # one query's caches do not tax the next.
            self.spark.catalog.clearCache()
        out.seconds = sum(op.seconds for op in out.ops)
        return out

    def finish(self) -> list[Op]:
        return []  # every query was checked as it ran

    def known_defects(self) -> list[Op]:
        """Check the known-defect query at sf0.1 once (untimed)."""
        from rtcdb_spark.queries import REGISTRY

        q = REGISTRY[KNOWN_DEFECT]
        error = None
        try:
            df = q.fn(self.spark, self.sf01_dir)
            rows, cols = df.collect(), list(df.columns)
        except Exception as exc:
            error = first_line(exc)
        if error is None:
            error = self._check(q, cols, rows, oracle_result(self.sf01_dir, [q])[q.name])
        self.spark.catalog.clearCache()
        return [Op(f"{q.name}@sf0.1", "check", 0.0, error is None, error)]

    def stored_bytes(self) -> None:
        return None  # reads store nothing
