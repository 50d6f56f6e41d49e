"""stream_dashboard: ``StreamingIngest.process_batch`` plus a live
dashboard query after every epoch.

Each op hands one pre-generated epoch of about 2,000 envelope events to
``process_batch``, then runs the dashboard (count and distinct users
per collection) through ``QueryService.execute`` until its answer
includes the epoch; with one caller the first answer always does.  The
epochs span four transaction-logged collections, re-send about 2% of
the uuids of earlier epochs and give one collection a new property
each epoch.  Pageview events carry the GeoIP, UserAgent and Referrer
triggers of ``default_pipeline()``, and 1% of purchase values are words
that fail coercion and go to the dead-letter table.  uuid dedup is on,
with ``ingest_parallelism`` at most ``nproc``.

Why: per-epoch fixed cost dominates.  The transaction log and the file
count grow every epoch, so reads slow down as writes pile up.
"""

from __future__ import annotations

import os
import time

import common
import gen

PROJECT = "live"
EVENTS_PER_EPOCH = 2_000
# epochs 0 and 1 are the warm-up: the first epoch after epoch 0 still
# runs about 10% slower than the ones after it
FIRST_TIMED = 2
EPOCHS = 16
DASHBOARD_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS collection, COUNT(*) AS n, COUNT(DISTINCT _user) AS users FROM {c}"
    for c in gen.STREAM_COLLECTIONS
)


class StreamDashboard(common.Workload):
    # an epoch takes 3.5-8.5 s as the host's speed varies, so a time
    # window alone would time one epoch on a slow host and two on a fast
    # one; two epochs are always timed
    min_ops = 2

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.exec_ms: list[float] = []

    def generate(self) -> None:
        self.epochs = gen.stream_epochs(
            os.path.join(self.work, "input"), self.seed, EPOCHS, EVENTS_PER_EPOCH
        )

    def _batch(self, epoch: int):
        return self.spark.read.text(self.epochs[epoch].path)

    def _ingest(self, warehouse: str, pipeline):
        from rakam_api_spark.api import EventCollector
        from rakam_api_spark.catalog import Metastore
        from rakam_api_spark.streaming import StreamingIngest

        collector = EventCollector(self.spark, Metastore(warehouse), pipeline=pipeline)
        ingest = StreamingIngest(
            collector, PROJECT, dedup_uuids=True, ingest_parallelism=common.cpus()
        )
        # EventStore.enable_txn fails on a project whose warehouse
        # directory does not exist yet, so epoch 0 lands in plain
        # directories first
        ingest.process_batch(self._batch(0), 0)
        for c in gen.STREAM_COLLECTIONS:
            collector.store.enable_txn(PROJECT, c)
        return ingest

    def warm_up(self) -> None:
        """A fresh warehouse, epoch 0, every collection switched to the
        transaction log, epoch 1, and a first dashboard answer."""
        from rakam_api_spark.api import default_pipeline
        from rakam_api_spark.query_service import QueryService

        self.warehouse = os.path.join(self.work, "warehouse")
        self.ingest = self._ingest(self.warehouse, default_pipeline())
        self.store = self.ingest.collector.store
        self.queries = QueryService(self.spark, self.store)
        for epoch in range(1, FIRST_TIMED):
            self.ingest.process_batch(self._batch(epoch), epoch)
        got = self.check_answer(
            "warm-up dashboard", self.queries.execute(PROJECT, DASHBOARD_SQL), FIRST_TIMED - 1
        )
        self.rows_before = self.rows_seen = sum(n for n, _ in got.values())

    def enrich_marginal(self, ops: list[dict]) -> float:
        """Enrichment is lazy, so its cost lands inside the writes.  After
        the timed ops, a twin of the stream whose collector bypasses the
        mappers, as ``/event/copy`` does, is fed the same epochs in order,
        so its log and seen set match; each untraced op's ``process_batch``
        minus the twin's on the same epoch is one sample.  The twin runs
        after the loop so the ops run back to back as in an untraced run,
        and with the wrappers in place but not recording, like the
        untraced ops."""
        from rakam_api_spark.enrich import EnrichmentPipeline, TimestampMapper

        untraced = {FIRST_TIMED + o["i"]: o["ingest_s"] for o in ops if not o["traced"]}
        twin = self._ingest(
            os.path.join(self.work, "warehouse-twin"), EnrichmentPipeline([TimestampMapper()])
        )
        marginal = []
        for epoch in range(1, max(untraced) + 1):
            t = time.perf_counter()
            twin.process_batch(self._batch(epoch), epoch)
            if epoch in untraced:
                marginal.append(untraced[epoch] - (time.perf_counter() - t))
        return common.median(marginal)

    def has_op(self, i: int) -> bool:
        return FIRST_TIMED + i < len(self.epochs)

    def op(self, i: int) -> dict:
        epoch = FIRST_TIMED + i
        batch = self._batch(epoch)
        t = time.perf_counter()
        self.ingest.process_batch(batch, epoch)
        t_ingest = time.perf_counter()
        res = self.queries.execute(PROJECT, DASHBOARD_SQL)
        t_fresh = time.perf_counter()
        got = self.check_answer(f"op {i} dashboard", res, epoch)
        self.exec_ms.append(res.properties.get("executionTimeInMillis", 0))
        stored = sum(n for n, _ in got.values())
        rec = {
            "wall": t_fresh - t,
            "ingest_s": t_ingest - t,
            "query_s": t_fresh - t_ingest,
            "events": stored - self.rows_seen,
        }
        self.rows_seen = stored
        return rec

    def check_answer(self, name: str, res, epoch: int) -> dict:
        if res.failed:
            self.checks.append((name, False, res.error.message))
            return {}
        got = {r[0]: (int(r[1]), int(r[2])) for r in res.result}
        self.check(name, got, self.epochs[epoch].totals)
        return got

    def final_checks(self, ops: list[dict]) -> None:
        last = FIRST_TIMED + len(ops) - 1
        want = self.epochs[last].totals
        self.rows = {c: self.store.read(PROJECT, c).count() for c in gen.STREAM_COLLECTIONS}
        for c in gen.STREAM_COLLECTIONS:
            self.check(f"rows stored in {c}", self.rows[c], want[c][0])
        fields = {
            c: set(s.fields) for c, s in self.store.metastore.project(PROJECT).collections.items()
        }
        missing = [
            (c, f) for e in self.epochs[: last + 1] for c, f in e.new_fields.items()
            if f not in fields.get(c, set())
        ]
        self.check("new fields registered", missing, [])
        self.dead_rows = self.store.read_dead_letter(PROJECT).count()
        self.check("rows in dead-letter table", self.dead_rows, self.epochs[last].malformed)
        self.check("dup_drop_ratio", self.dup_drop_ratio(ops), 1.0)

    def dup_drop_ratio(self, ops: list[dict]) -> float:
        """Duplicates dropped over duplicates sent, over the timed
        epochs: what was sent but not stored, over the re-sends."""
        epochs = self.epochs[FIRST_TIMED: FIRST_TIMED + len(ops)]
        stored = sum(self.rows.values()) - self.rows_before
        return (sum(e.sent for e in epochs) - stored) / sum(e.dups for e in epochs)

    def end_to_end(self, ops: list[dict]) -> dict[str, float]:
        return {
            "op_p50_s": common.median([o["wall"] for o in ops]),
            "throughput_per_s": sum(o["events"] for o in ops) / sum(o["ingest_s"] for o in ops),
        }

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        base = os.path.join(self.warehouse, PROJECT)
        seen = common.dir_stats(os.path.join(base, "_seen_uuids"), "")[1]
        table_files = [common.dir_stats(os.path.join(base, f"{c}.txn")) for c in gen.STREAM_COLLECTIONS]
        return {
            "enrich.marginal_s": self.enrich_marginal(ops),
            "store.dead_letter_rows": float(self.dead_rows),
            "store.files": float(sum(f for f, _ in table_files)),
            "store.bytes_per_event": sum(b for _, b in table_files) / sum(self.rows.values()),
            "txnlog.versions": float(sum(
                self.store.txn_table(PROJECT, c).version() for c in gen.STREAM_COLLECTIONS
            )),
            "streaming.dup_drop_ratio": self.dup_drop_ratio(ops),
            "streaming.seen_state_bytes": float(seen),
            "query_service.execution_ms": common.median(
                [self.exec_ms[o["i"]] for o in ops if o["traced"]]
            ),
        }

    def report(self, ops: list[dict]) -> list[str]:
        n = len(ops)
        e2e = self.end_to_end(ops)
        return [
            f"stream_eps {e2e['throughput_per_s']:.1f} events/s "
            f"({sum(o['events'] for o in ops)} events stored in {n} timed process_batch calls)",
            f"fresh_p50_s {e2e['op_p50_s']:.3f} s (median of {n} epochs: "
            + ", ".join(f"{o['wall']:.3f}" for o in ops) + ")",
            f"dashboard_p50_s {common.median([o['query_s'] for o in ops]):.3f} s (median of {n})",
        ]
