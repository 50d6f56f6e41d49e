"""query_mix: the 17 frozen headline queries (``bench.HEADLINE``), one
round per op, each round in a fresh ``spark.newSession()``.

The tables are generated from the seed with the column names, types
and value domains of the repository's test data, at a small scale
factor, so a round is dominated by per-query fixed cost as at sf0.1.
The first untimed warm-up round compares every query with its DuckDB
oracle through ``tools/check_correctness.compare``; every later round
must return the same rows.

Why: a new session gets new session-keyed memos, so no query can be
served its own output.  All work is in ``analytics``, ``llm`` and
``tables``, none in the ingest layers.
"""

from __future__ import annotations

import os
import sys
import time

import common
import gen

SCALE = 0.02


class QueryMix(common.Workload):
    def __init__(self, spark, work: str, seed: int):
        import __spark_entry__
        import bench

        super().__init__(spark, work, seed)
        self.dir = os.path.join(work, "tables")
        self.names = list(bench.HEADLINE)
        declared = __spark_entry__.queries()
        self.queries = {n: declared[n] for n in self.names}
        self.oracles = __spark_entry__.oracle_sql()

    def generate(self) -> None:
        gen.analytics_tables(self.dir, self.seed, SCALE)

    def _round(self) -> tuple[float, dict[str, float], dict[str, tuple]]:
        t0 = time.perf_counter()
        session = self.spark.newSession()
        times, results = {}, {}
        for name in self.names:
            t = time.perf_counter()
            df = self.queries[name](session, self.dir)
            rows = df.collect()
            times[name] = time.perf_counter() - t
            results[name] = (df.columns, rows)
        return time.perf_counter() - t0, times, results

    def warm_up(self) -> None:
        """Two untimed rounds.  The first pays JVM code generation for
        every query and is the run's correctness check against the
        DuckDB oracles.  The second runs about 15% slower than the
        rounds after it while the JIT settles, so it is not timed
        either."""
        sys.path.append(os.path.join(common.ROOT, "tools"))
        import check_correctness

        self.cc = check_correctness
        _, _, self.expected = self._round()
        con = self.cc.duck_connection(self.dir)
        try:
            for name, (cols, rows) in self.expected.items():
                rel = con.execute(self.oracles[name])
                self.compare(f"{name} matches its oracle", name, cols, rows,
                             [d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()
        self._checked_round("second warm-up round")

    def compare(self, check: str, name: str, cols, rows, want_cols, want_rows) -> None:
        problems = self.cc.compare(name, [tuple(r) for r in rows], [tuple(r) for r in want_rows],
                                   cols, want_cols)
        self.checks.append((check, not problems, "; ".join(problems)))

    def _checked_round(self, label: str) -> tuple[float, dict[str, float]]:
        wall, times, results = self._round()
        for name, (cols, rows) in results.items():
            self.compare(f"{label} {name} matches the checked round", name, cols, rows,
                         *self.expected[name])
        return wall, times

    def op(self, i: int) -> dict:
        wall, times = self._checked_round(f"round {i}")
        return {"wall": wall, "times": times}

    def end_to_end(self, ops: list[dict]) -> dict[str, float]:
        return {
            "op_p50_s": common.median([o["wall"] for o in ops]),
            "throughput_per_s": len(self.names) * len(ops) / sum(o["wall"] for o in ops),
        }

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        traced = [o for o in ops if o["traced"]]
        return {
            f"query.{n}_s": common.median([o["times"][n] for o in traced]) for n in self.names
        }

    def report(self, ops: list[dict]) -> list[str]:
        per_query = ", ".join(
            f"{n} {common.median([o['times'][n] for o in ops]):.3f}" for n in self.names
        )
        return [
            f"query_round_p50_s {common.median([o['wall'] for o in ops]):.3f} s "
            f"(median of {len(ops)} rounds of {len(self.names)} queries: "
            + ", ".join(f"{o['wall']:.3f}" for o in ops) + ")",
            f"query_p50_s (median of {len(ops)}): {per_query}",
        ]
