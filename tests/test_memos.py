"""Session memo infrastructure: footer-metadata row counts
(tables.table_rowcount), the session-artifact registry
(rakam_api_spark.artifacts) and the shared kernels routed through it,
and the rule that a declared query is never served its own output."""

import gc
import sys
import weakref
from collections import OrderedDict

import pytest

sys.path.insert(0, "/root/repo")

from rakam_api_spark import artifacts
from rakam_api_spark.llm import similarity as sim
from rakam_api_spark.tables import _ROWCOUNT_MEMO, table_rowcount

SF = "/root/testdata/sf0.001"


def test_table_rowcount_reads_footer_without_session(spark):
    _ROWCOUNT_MEMO.clear()
    # spark=None proves no Spark job is needed on the local-file path
    n = table_rowcount(None, SF, "customer")
    assert n > 0
    # memo hit: same value, still no session required
    assert table_rowcount(None, SF, "customer") == n
    # matches the real count
    assert n == spark.read.parquet(f"{SF}/customer.parquet").count()


class _Session:
    """Hashable, weakly referenceable stand-in for a SparkSession."""


class _Frame:
    is_cached = True

    def __init__(self):
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


@pytest.fixture()
def registry(monkeypatch):
    """An empty registry capped at 4 entries, isolated from the
    entries the shared test session holds."""
    monkeypatch.setattr(artifacts, "CAP", 4)
    monkeypatch.setattr(artifacts, "_ENTRIES", OrderedDict())
    return artifacts._ENTRIES


def test_registry_lru_bounds_and_refreshes(registry):
    s = _Session()
    frames = {i: _Frame() for i in range(99)}
    for i in range(artifacts.CAP + 2):
        assert artifacts.artifact(s, ("k", i), lambda i=i: frames[i]) is frames[i]
    assert len(registry) == artifacts.CAP
    # the two oldest were evicted AND unpersisted
    assert frames[0].unpersisted and frames[1].unpersisted
    assert not frames[2].unpersisted
    # a hit returns the registered value without building and refreshes
    # recency: key 2 survives the next insert, key 3 (now oldest) goes
    assert artifacts.artifact(s, ("k", 2), lambda: pytest.fail("rebuilt")) is frames[2]
    artifacts.artifact(s, ("k", 99), _Frame)
    assert (s, "k", 2) in registry and (s, "k", 3) not in registry
    assert frames[3].unpersisted
    # tuple values release every cached frame they hold
    pair = (_Frame(), _Frame())
    artifacts.artifact(s, ("pair",), lambda: pair)
    for i in range(artifacts.CAP):
        artifacts.artifact(s, ("filler", i), _Frame)
    assert all(f.unpersisted for f in pair)


def test_registry_keeps_cache_another_session_shares(registry):
    """Spark shares one cache between identical plans across
    sessions, so evicting one session's entry must not unpersist a
    frame whose key another session still holds."""
    old, live = _Session(), _Session()
    shared = _Frame()
    artifacts.artifact(old, ("sig", "sf"), lambda: shared)
    artifacts.artifact(live, ("sig", "sf"), lambda: shared)
    for i in range(artifacts.CAP - 2):
        artifacts.artifact(live, ("other", i), _Frame)
    # one more entry evicts the old session's ("sig", "sf")
    artifacts.artifact(live, ("other", "last"), _Frame)
    assert (old, "sig", "sf") not in registry
    assert (live, "sig", "sf") in registry
    assert not shared.unpersisted


def test_registry_evicts_dead_sessions(registry):
    """A dead session's entries leave once CAP + 1 fresh sessions have
    registered, and the session itself can then be collected."""
    dead = _Session()
    dead_ref = weakref.ref(dead)
    dead_frame = _Frame()
    artifacts.artifact(dead, ("table", "sf", "orders"), lambda: dead_frame)
    del dead
    gc.collect()
    assert dead_ref() is not None  # the registry still holds it

    fresh = [_Session() for _ in range(artifacts.CAP + 1)]
    for s in fresh:
        artifacts.artifact(s, ("kernel",), _Frame)
    gc.collect()
    assert dead_ref() is None
    assert dead_frame.unpersisted
    assert len(registry) == artifacts.CAP


def test_registry_builds_unhashable_sessions_uncached(registry):
    built = []
    for _ in range(2):
        artifacts.artifact([], ("k",), lambda: built.append(1))
    assert built == [1, 1] and not registry


def test_corpus_shingle_memo_returns_same_frame(spark):
    from rakam_api_spark.llm.dedup import _corpus_shingles

    a = _corpus_shingles(spark, SF)
    b = _corpus_shingles(spark, SF)
    assert a is b


def test_embedding_artifact_memos_identity_and_values(spark):
    """The shared embedding-family artifacts are registered per
    (session, sf_dir) AND value-identical to the inline derivations
    they replaced."""
    from pyspark.sql import functions as F

    from rakam_api_spark.tables import load_table

    # identity: second call returns the same frame object
    compl = sim._compl_for(spark, SF)
    assert sim._compl_for(spark, SF) is compl
    norms = sim._norms_for(spark, SF)
    assert sim._norms_for(spark, SF) is norms
    cents = sim._label_cents_for(spark, SF)
    assert sim._label_cents_for(spark, SF) is cents
    members = sim._ivf_members_for(spark, SF)
    assert sim._ivf_members_for(spark, SF) is members

    # value identity vs the raw per-call derivations
    emb = load_table(spark, SF, "embeddings")
    raw = sim._quantized_components_labeled(emb)
    assert compl.exceptAll(raw).count() == 0 and raw.exceptAll(compl).count() == 0
    raw_norms = sim._norms(raw.drop("label"), "vec_id")
    assert norms.exceptAll(raw_norms).count() == 0
    raw_cents = raw.groupBy("label", "pos").agg(
        F.floor(F.avg("q")).cast("long").alias("cq")
    )
    assert cents.exceptAll(raw_cents).count() == 0

    # members == comp joined to the registered fit's assignment
    comp, _c, assign = sim._ivf_fit_for(spark, SF)
    raw_members = comp.join(assign, "vec_id")
    assert members.exceptAll(raw_members).count() == 0
    assert members.count() == raw.count()  # one row per component


def _plan_nodes(df) -> set[str]:
    """Node names of the optimized logical plan (a cached or
    checkpointed subtree is one InMemoryRelation/LogicalRDD leaf)."""
    names, todo = set(), [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        names.add(node.nodeName())
        ch = node.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return names


#: Declared queries whose shared kernels are session artifacts; each
#: used to be served its own memoized output on a repeat call.
_SHARED_KERNEL_QUERIES = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_brute_force_topk",
    "embedding_cosine_dedup",
    "dup_span_extents",
)


@pytest.mark.parametrize("name", _SHARED_KERNEL_QUERIES)
def test_declared_query_repeat_call_does_its_work(spark, name):
    """A repeat call in one session returns a new frame whose plan
    still joins, aggregates or windows (the brute-force top-k is an
    Arrow kernel ranked by a window), not a bare leaf that reads a
    memoized copy of the query's own result."""
    import __spark_entry__

    query = __spark_entry__.queries()[name]
    first = query(spark, SF)
    first.collect()
    second = query(spark, SF)
    assert second is not first
    nodes = _plan_nodes(second)
    assert nodes & {"Join", "Aggregate", "Window"}, sorted(nodes)
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, first.collect()))
