"""Cross-process atomic commit protocol for the parquet warehouse —
the transaction-log table format every event collection is stored in
(VERDICT r6 "What's missing" #2: concurrent multi-writer needs
Delta/Iceberg or documented single-writer orchestration; this module
is the in-repo lakehouse answer, built on the same PUBLIC design the
Delta Lake paper describes: an ordered log of atomically-created
commit files over immutable data files, with optimistic concurrency).

Layout under ``path``::

    _txn/v00000001.json     ordered commit log (one file per commit)
    _staging/<uuid>/        in-flight writes (invisible to readers)
    [<col>=<val>/]part-*.parquet   immutable data files

Each commit file holds ``{op, writer, add: [{path, rows,
partition}], remove: [path, ...]}``.  The table state at version V is
the replay of commits 1..V: ``add`` registers files, ``remove``
retires them.  Readers list files from the LOG, never from the
directory — a crash between data-file write and commit leaves orphan
files that no reader ever sees (vacuum reclaims them).

Concurrency = optimistic, arbitrated by ``O_CREAT|O_EXCL`` on the
next version's commit file (atomic on POSIX; a real object-store
deployment swaps this single primitive for a put-if-absent /
commit-service call, exactly as Delta does):

- two APPENDS never conflict (disjoint files, both commits land
  under consecutive versions — no lost update, unlike mode-append
  directory writes racing a compaction's pointer swap);
- a REWRITE (compact / expire) re-validates at commit time that
  every file it removes is still live; losing that race raises
  :class:`CommitConflict` and the caller retries from a fresh
  snapshot.  Appends that landed after the rewrite's snapshot are
  untouched by its ``remove`` set and stay live.

Reads are snapshot-consistent (``version=`` time travel) and prune
partitions from MANIFEST metadata — the file list is filtered by the
recorded partition values before Spark ever lists or opens anything,
so a month-selective read of a 10⁶-file table opens only that
month's files (Iceberg-style manifest pruning; no directory listing
at scale).

Log/manifest pure-Python by design: commit arbitration must also be
available to non-Spark writers (tests contend it from plain
processes), and at 100 TB the log is KB-scale JSON while the data
plane stays in Spark.

Snapshot resolution is O(checkpoint_every), not O(total commits):
every ``checkpoint_every`` (default 10) commits the committer writes
``_txn/cXXXXXXXX.json`` holding the FULL live-file state at that
version, and ``state(v)`` loads the nearest checkpoint ≤ v plus a
tail replay of at most ``checkpoint_every`` commit files — the Delta
checkpoint mechanism (reference analog: the 1-minute metastore cache,
PostgresqlMetastore.java:50-63).  Checkpoints are published with
write-temp-then-hardlink (atomic, loser of a race skips); a missing
or torn checkpoint always degrades safely to full replay.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TXN_DIR = "_txn"
_STAGING_DIR = "_staging"


class CommitConflict(RuntimeError):
    """A concurrent commit removed (or already-removed) a file this
    rewrite also removes — the snapshot is stale; retry the rewrite
    from the current version."""


class SchemaConflict(RuntimeError):
    """An append's DataFrame redefines an existing column with a
    DIFFERENT type.  Without this gate the conflict only surfaces at
    READ time (mergeSchema fails on the union), after the bad files
    are already committed; rejecting at append keeps every committed
    snapshot readable.  Additive new columns are always allowed
    (schema evolution); fix a true type change by casting the frame
    before appending."""


class ConstraintViolation(RuntimeError):
    """An append/merge carries rows that make a registered CHECK
    constraint FALSE (SQL semantics: NULL passes, only FALSE
    violates).  Rejected BEFORE any file lands, so every committed
    snapshot satisfies every constraint that was active when it was
    written — the Delta CHECK-constraint contract."""


class CorruptCommit(RuntimeError):
    """A commit file exists but holds no parseable JSON.  The current
    writer publishes commits atomically-with-contents (write private
    temp + fsync + hardlink), so this can only be filesystem damage or
    a torn write left by a pre-atomic writer version.  Fail LOUDLY —
    silently skipping a commit would serve a wrong snapshot (files
    added in the lost commit vanish; files it removed resurrect)."""


def _writer_id() -> str:
    return f"{os.getpid()}@{socket.gethostname()}"


def _now() -> float:
    import time as _time

    return _time.time()


def _month_from_path(rel: str) -> str | None:
    """Parse the ``_month=YYYY-MM`` hive segment out of a relative
    file path, or None when the file is unpartitioned."""
    for seg in rel.split("/"):
        if seg.startswith("_month="):
            return seg.split("=", 1)[1]
    return None


def _file_rows(path: str) -> int | None:
    try:
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(path).metadata.num_rows)
    except Exception:
        return None


def _stat_safe(v):
    import datetime as _dt

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (_dt.date, _dt.datetime)):
        # ISO text (the manifest is JSON): lexicographic order over
        # 'YYYY-MM-DD[ HH:MM:SS[.ffffff]]' is chronological, and the
        # form matches _bloom_key's str() canonicalization — date/ts
        # probes canonicalized to the same text compare and prune
        # correctly (round 12).  tz-AWARE stats (external parquet
        # written with isAdjustedToUTC=true) are normalized to
        # UTC-naive text first: str() would append '+00:00', which
        # breaks lexicographic comparison against offset-free probe
        # text ('...09:00:00' < '...09:00:00+00:00' reads as
        # below-min and wrongly skips the file) — round 13.
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return str(v)
    return None


def _file_stats(path: str, max_cols: int = 8) -> dict | None:
    """Per-file min/max column stats lifted from the parquet row-group
    footers (already computed by the writer — zero extra scan cost),
    recorded in the manifest for Iceberg-style data skipping.  Only
    top-level columns with complete min/max across every row group
    qualify; capped at ``max_cols`` so a 1000-column table doesn't
    bloat the log.  Missing stats are always SAFE: a file without a
    recorded range is never skipped."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    stats: dict[str, list] = {}
    for ci in range(md.num_columns):
        name = md.schema.column(ci).path
        if "." in name:
            continue  # nested leaves don't skip
        lo = hi = None
        complete = True
        for rg in range(md.num_row_groups):
            try:
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    complete = False
                    break
                mn, mx = _stat_safe(st.min), _stat_safe(st.max)
            except Exception:
                # pyarrow can't decode min/max for every physical type
                # (e.g. some decimal encodings raise
                # ArrowNotImplementedError) — no stats, never an error
                complete = False
                break
            if mn is None or mx is None:
                complete = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if complete and lo is not None:
            stats[name] = [lo, hi]
            if len(stats) >= max_cols:
                break
    return stats or None


#: bloom sizing: bits grow with the file's distinct count (×10 bits
#: per value ≈ 1.2% fpr at k=7) up to this cap — 64 Kbit = 8 KB
#: bitset ≈ 10.9 KB base64 per (file, column) manifest entry
_BLOOM_MAX_BITS = 1 << 16
_BLOOM_K = 7

#: bloom FORMAT version, stamped into every persisted bloom dict.
#: Bumped whenever :func:`_bloom_key` canonicalization changes (v2 =
#: the round-11 type-aware form: numeric unification, NUL-prefixed
#: bytes, Decimal/date/datetime via str()).  A probe against a bloom
#: whose stamp doesn't match the probing code degrades to
#: probe-always-true — an old manifest can never MIS-prune under new
#: key semantics; ``rebloom()`` treats stale stamps as missing and
#: rebuilds them (ADVICE r11 #5).
_BLOOM_FMT = 2


#: digest-set partials flip to a fixed-size bitset past this many
#: distinct values — the same count at which the adaptive sizing
#: below would have saturated m at _BLOOM_MAX_BITS anyway
_BLOOM_DIGEST_CAP = _BLOOM_MAX_BITS // 10


def _bloom_key(v) -> bytes:
    """Canonical byte key for a bloom-hashed value.  All numerics
    that compare equal hash identically regardless of physical type
    (int 42, 42.0, Decimal('42.00') → b'42'; non-integral numerics
    canonicalize through repr(float), so Decimal('0.50') and the
    float 0.5 deliberately collide — cross-type collisions only add
    false POSITIVES, a differently-typed equal probe can never be
    wrongly pruned, ADVICE r10).  Booleans → true/false; dates,
    datetimes and pandas Timestamps via str() (identical text for
    datetime.datetime and pd.Timestamp); bytes get a NUL marker so
    they can't collide with strings; numpy scalars unwrap through
    .item().  Documented so external writers can interop."""
    import decimal as _dec

    if isinstance(v, bool):
        s = "true" if v else "false"
    elif isinstance(v, int):
        s = str(v)
    elif isinstance(v, float):
        s = str(int(v)) if v.is_integer() else repr(v)
    elif isinstance(v, _dec.Decimal):
        try:
            if v == v.to_integral_value():
                s = str(int(v))
            else:
                s = repr(float(v))
        except (ValueError, OverflowError, _dec.InvalidOperation):
            s = str(v)
    elif isinstance(v, (bytes, bytearray)):
        return b"\x00bytes:" + bytes(v)
    else:
        if type(v).__module__.split(".")[0] == "numpy" and hasattr(v, "item"):
            return _bloom_key(v.item())
        s = str(v)
    return s.encode("utf-8")


def _digest_hashes(digest: bytes, m: int, k: int):
    """Kirsch-Mitzenmacher double hashing: k bit positions from one
    16-byte md5 digest — the digest IS the transportable unit, so
    executor partials can ship digests instead of values."""
    h1 = int.from_bytes(digest[:8], "big")
    h2 = int.from_bytes(digest[8:], "big") | 1  # odd → full-period stride
    return ((h1 + i * h2) % m for i in range(k))


def _bloom_hashes(key: bytes, m: int, k: int):
    import hashlib as _hl

    return _digest_hashes(_hl.md5(key).digest(), m, k)


def _bloom_from_digests(digests) -> dict | None:
    """Build one bloom filter dict {m, k, b64} from a collection of
    16-byte value digests — m sized to the distinct count (×10 bits
    ≈ 1.2% fpr at k=7), capped at _BLOOM_MAX_BITS."""
    import base64 as _b64

    digests = set(digests)
    if not digests:
        return None
    m = 1024
    while m < 10 * len(digests) and m < _BLOOM_MAX_BITS:
        m <<= 1
    bits = bytearray(m // 8)
    for d in digests:
        for idx in _digest_hashes(d, m, _BLOOM_K):
            bits[idx >> 3] |= 1 << (idx & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "v": _BLOOM_FMT,
        "b64": _b64.b64encode(bytes(bits)).decode(),
    }


def _bloom_build(values) -> dict | None:
    """Build one bloom filter dict over an iterable of column values
    (None/NaN skipped) — one md5 per DISTINCT value."""
    import hashlib as _hl

    def _digests():
        for v in values:
            if v is None:
                continue
            try:
                if v != v:  # NaN / NaT
                    continue
            except Exception:
                pass
            yield _hl.md5(_bloom_key(v)).digest()

    return _bloom_from_digests(_digests())


def _bloom_might_contain(bloom: dict, v) -> bool:
    """False = the value is DEFINITELY absent from the file; True =
    maybe present (read it).  Any malformed bloom degrades to True —
    skipping is an accelerator, never a correctness dependency."""
    import base64 as _b64

    try:
        if bloom.get("v") != _BLOOM_FMT:
            # built under different _bloom_key canonicalization (or a
            # pre-versioning manifest): its bits are unprobeable with
            # today's keys — degrade to "maybe present" until rebloom
            # rebuilds it (ADVICE r11 #5)
            return True
        m, k = int(bloom["m"]), int(bloom["k"])
        bits = _b64.b64decode(bloom["b64"])
        if m <= 0 or k <= 0 or len(bits) * 8 < m:
            return True
        return all(
            bits[idx >> 3] & (1 << (idx & 7))
            for idx in _bloom_hashes(_bloom_key(v), m, k)
        )
    except Exception:
        return True


def _file_blooms(path: str, cols: list[str]) -> dict | None:
    """SPARKLESS-FALLBACK per-file bloom build (pyarrow, column-
    pruned, in-process).  Only the log-only writer path (``TxnTable``
    constructed with ``spark=None``) uses this — by definition a
    single-process writer registering files it just produced itself,
    with no cluster to offload to.  Every Spark-attached write path
    builds blooms EXECUTOR-SIDE via :func:`_blooms_via_spark` instead
    (VERDICT r10 What's wrong #1: funneling bloomed columns through
    the committing process is a driver-side scan in the ingest hot
    path)."""
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        have = [c for c in cols if c in pf.schema_arrow.names]
        if not have:
            return None
        t = pf.read(columns=have)
    except Exception:
        return None
    out = {}
    for c in have:
        b = _bloom_build(t[c].to_pylist())
        if b is not None:
            out[c] = b
    return out or None


def _bloom_partial_batches(batches, cols: list[str]):
    """``mapInPandas`` worker: fold Arrow batches into per-(file,
    column) bloom PARTIALS — a set of 16-byte md5 value digests up to
    ``_BLOOM_DIGEST_CAP`` distinct values, then a fixed-size bitset at
    ``_BLOOM_MAX_BITS`` (fixed m is what makes partials OR-mergeable
    across partitions).  Emits (file, col, kind, payload) rows: the
    driver receives digests and 8 KB bitsets, NEVER column values."""
    import hashlib as _hl

    import pandas as pd

    state: dict[tuple, list] = {}  # (file, col) -> [digest_set|None, bitset|None]
    for bdf in batches:
        for fname, sub in bdf.groupby("__file", sort=False):
            for c in cols:
                if c not in sub.columns:
                    continue
                acc = state.setdefault((fname, c), [set(), None])
                col = sub[c]
                try:
                    # dedupe per batch to save md5 calls — TYPE-AWARE,
                    # because Python sets conflate 0/False/0.0 while
                    # their canonical keys differ ('0' vs 'false'):
                    # a plain set() would silently drop one key and
                    # open a false-negative (caught by the round-11
                    # hypothesis property test)
                    vals = [v for _t, v in {(type(v), v) for v in col.tolist()}]
                except TypeError:
                    vals = col.tolist()
                for v in vals:
                    if v is None:
                        continue
                    try:
                        if v != v:  # NaN / NaT
                            continue
                    except Exception:
                        pass
                    d = _hl.md5(_bloom_key(v)).digest()
                    if acc[1] is not None:
                        for idx in _digest_hashes(d, _BLOOM_MAX_BITS, _BLOOM_K):
                            acc[1][idx >> 3] |= 1 << (idx & 7)
                    else:
                        acc[0].add(d)
                        if len(acc[0]) > _BLOOM_DIGEST_CAP:
                            bits = bytearray(_BLOOM_MAX_BITS // 8)
                            for dd in acc[0]:
                                for idx in _digest_hashes(
                                    dd, _BLOOM_MAX_BITS, _BLOOM_K
                                ):
                                    bits[idx >> 3] |= 1 << (idx & 7)
                            acc[0], acc[1] = None, bits
    rows = [
        (
            fname,
            c,
            "b" if bits is not None else "d",
            bytes(bits) if bits is not None else b"".join(sorted(digs)),
        )
        for (fname, c), (digs, bits) in state.items()
    ]
    yield pd.DataFrame(rows, columns=["f", "c", "kind", "payload"])


def _uri_to_local(uri: str) -> str:
    if "://" in uri or uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path)
    return uri


def _blooms_via_spark(
    spark, abs_paths: list[str], cols: list[str]
) -> dict[str, dict]:
    """EXECUTOR-SIDE bloom build: one Spark job over the just-written
    parquet files, returning {abs_path: {col: bloom}}.  The committer
    receives only finished digests/bitsets (metadata-scale: ≤ ~8 KB
    per (partition-slice, file, column)) — it never materializes
    column values, so a bulk append's commit path stays O(manifest)
    on the driver no matter how many TB the batch holds (VERDICT r10
    What's wrong #1 / Next #1, option b).

    Robustness: a file whose schema lacks every bloomed column yields
    no entry (probe keeps it conservatively); a batch read that fails
    (heterogeneous legacy schemas in ``rebloom``) degrades to per-file
    Spark reads; a file that still fails is skipped — bloom skipping
    is an accelerator, never a correctness dependency."""
    from pyspark.sql import functions as F

    if not abs_paths:
        return {}

    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")

    def _partials(paths: list[str]):
        reader = spark.read.option("mergeSchema", "true").parquet(*paths)
        dtypes = dict(reader.dtypes)
        have = [c for c in cols if c in reader.columns]
        if not have:
            return []
        # INTEGRAL columns are cast to string JVM-SIDE before the
        # Arrow transfer: a nullable int64 column arrives in pandas as
        # float64, which silently rounds values above 2^53 BEFORE
        # hashing — a later exact-integer probe would get a bloom
        # false NEGATIVE and wrongly skip the file (ADVICE r11 #2).
        # Spark's long→string cast is exact decimal text, and
        # _bloom_key(str) ≡ _bloom_key(int) for integral values, so
        # the keys are unchanged for every value that was previously
        # hashed correctly.
        sel = [
            F.col(c).cast("string").alias(c)
            if dtypes.get(c) in _INTEGRAL
            else F.col(c)
            for c in have
        ]
        src = reader.select(F.input_file_name().alias("__file"), *sel)
        return src.mapInPandas(
            lambda it: _bloom_partial_batches(it, have),
            schema="f string, c string, kind string, payload binary",
        ).collect()

    try:
        rows = _partials(list(abs_paths))
    except Exception:
        rows = []
        for p in abs_paths:
            try:
                rows.extend(_partials([p]))
            except Exception:
                continue  # unreadable/colless file: no bloom, kept at probe

    import base64 as _b64

    known = set(abs_paths)
    by_key: dict[tuple[str, str], list] = {}
    for r in rows:
        path = _uri_to_local(r["f"])
        if path not in known:
            continue  # foreign path: degrade to no bloom
        by_key.setdefault((path, r["c"]), []).append((r["kind"], r["payload"]))
    out: dict[str, dict] = {}
    for (path, c), partials in by_key.items():
        digs: set[bytes] = set()
        bits: bytearray | None = None
        for kind, payload in partials:
            if kind == "b":
                nb = bytearray(payload)
                bits = nb if bits is None else bytearray(
                    a | b for a, b in zip(bits, nb)
                )
            else:
                digs.update(
                    payload[i : i + 16] for i in range(0, len(payload), 16)
                )
        if bits is None and len(digs) <= _BLOOM_DIGEST_CAP:
            bloom = _bloom_from_digests(digs)
        else:
            if bits is None:
                bits = bytearray(_BLOOM_MAX_BITS // 8)
            for d in digs:
                for idx in _digest_hashes(d, _BLOOM_MAX_BITS, _BLOOM_K):
                    bits[idx >> 3] |= 1 << (idx & 7)
            bloom = {
                "m": _BLOOM_MAX_BITS,
                "k": _BLOOM_K,
                "v": _BLOOM_FMT,
                "b64": _b64.b64encode(bytes(bits)).decode(),
            }
        if bloom is not None:
            out.setdefault(path, {})[c] = bloom
    return out


class TxnTable:
    """A transaction-logged parquet table.  ``spark`` may be None for
    log-only writers (commit/append_files/vacuum work sparkless; the
    data plane — read/append/compact — needs a session).

    ``bloom_cols`` opts columns into PER-FILE BLOOM FILTERS recorded
    in the manifest (Iceberg/Delta-style point-lookup skipping for
    high-cardinality columns where min/max ranges don't discriminate
    — user ids, uuids): every file this instance writes (append,
    compact, merge, append_files) carries a bloom per listed column,
    and ``live_files(equals={col: value})`` drops files whose bloom
    proves the value absent — a point lookup over a 10⁶-file table
    opens ~fpr·files instead of all of them, from manifest metadata
    alone.  Files written without blooms (older writers, other
    instances) are conservatively kept, so mixed histories stay
    correct."""

    #: write a full-state checkpoint every N commits (Delta uses 10)
    CHECKPOINT_EVERY = 10
    #: old checkpoints kept on disk (older state() calls full-replay)
    CHECKPOINTS_RETAINED = 3
    #: rebloom drives its executor-side bloom jobs in chunks of this
    #: many files, capping the per-collect driver fan-in at
    #: ~chunk × cols × 10 KB regardless of how many files a heal
    #: touches (VERDICT r11 What's wrong #3)
    REBLOOM_CHUNK_FILES = 1024

    def __init__(
        self,
        spark: SparkSession | None,
        path: str,
        checkpoint_every: int | None = None,
        bloom_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.bloom_cols = list(bloom_cols or [])
        self._txn = os.path.join(path, _TXN_DIR)
        self.checkpoint_every = (
            self.CHECKPOINT_EVERY if checkpoint_every is None else checkpoint_every
        )
        #: metadata files opened by the LAST state() call — the
        #: observable the checkpoint contract is tested against
        #: (≤ checkpoint_every + 1 regardless of log length)
        self.last_state_file_opens = 0
        #: commit files opened by the LAST history() call — pins the
        #: bounded-listing contract (≤ limit when one is given)
        self.last_history_file_opens = 0
        os.makedirs(self._txn, exist_ok=True)

    # --- log primitives --------------------------------------------------

    def _commit_path(self, version: int) -> str:
        return os.path.join(self._txn, f"v{version:08d}.json")

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self._txn, f"c{version:08d}.json")

    def version(self) -> int:
        vs = [
            int(f[1:9])
            for f in os.listdir(self._txn)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(vs, default=0)

    def _checkpoint_versions(self) -> list[int]:
        return sorted(
            int(f[1:9])
            for f in os.listdir(self._txn)
            if f.startswith("c") and f.endswith(".json")
        )

    def _read_commit(self, version: int) -> dict:
        """Load one commit record, failing loudly on a torn/empty file
        (see :class:`CorruptCommit`).  A missing file propagates the
        plain FileNotFoundError — callers validate ranges up front."""
        path = self._commit_path(version)
        with open(path) as f:
            raw = f.read()
        try:
            return json.loads(raw)
        except ValueError:
            raise CorruptCommit(
                f"{path}: commit file is {'empty' if not raw.strip() else 'unparseable'} "
                "— torn write by a pre-atomic-publish writer or filesystem "
                "damage.  Restore the file from a replica/backup; do NOT "
                "delete it (later commits may remove files it added)."
            ) from None

    def history(
        self, since: int | None = None, limit: int | None = None
    ) -> list[dict]:
        """Commit records (oldest first), each tagged with its
        ``version``.  ``since`` starts the listing at that version
        (inclusive); ``limit`` keeps only the LAST ``limit`` records.
        Cost is O(records returned) file opens, never O(total
        commits) — time-travel UIs ask for the recent tail, and a
        month of one-commit-per-epoch streaming would otherwise be
        ~86k opens per call."""
        upto = self.version()
        start = 1 if since is None else max(1, int(since))
        if limit is not None:
            start = max(start, upto - int(limit) + 1)
        out = []
        for v in range(start, upto + 1):
            rec = self._read_commit(v)
            rec["version"] = v
            out.append(rec)
        self.last_history_file_opens = len(out)
        return out

    def _resolve(
        self, upto: int, use_checkpoints: bool = True
    ) -> tuple[dict[str, dict], dict[str, int], list | None, dict]:
        """Replay to ``upto``: (live files, app high-water marks,
        table schema as [[name, sparkSimpleTypeString], ...] or None
        for logs written before schema tracking, active CHECK
        constraints {name: sql_expr}).

        Resolution = nearest checkpoint ≤ version + tail replay, so
        snapshot cost is bounded by ``checkpoint_every`` commit-file
        opens however long the log grows (one commit per streaming
        epoch for a month would otherwise be ~86k opens per read).  A
        vanished or unparsable checkpoint (concurrent prune, torn
        write on a non-atomic store) degrades to full replay —
        checkpoints are an accelerator, never a correctness
        dependency."""
        live: dict[str, dict] = {}
        apps: dict[str, int] = {}
        schema: list | None = None
        constraints: dict[str, str] = {}
        start = 1
        opens = 0
        ckpts = (
            [c for c in self._checkpoint_versions() if c <= upto]
            if use_checkpoints
            else []
        )
        if ckpts:
            try:
                with open(self._ckpt_path(ckpts[-1])) as f:
                    snap = json.load(f)
                live = {e["path"]: e for e in snap["live"]}
                apps = dict(snap.get("apps", {}))
                schema = snap.get("schema")
                constraints = dict(snap.get("constraints", {}))
                start = ckpts[-1] + 1
                opens += 1
            except (OSError, ValueError, KeyError):
                live, apps, schema, constraints, start = {}, {}, None, {}, 1
        for v in range(start, upto + 1):
            rec = self._read_commit(v)
            opens += 1
            # remove BEFORE add: every historical commit's two sets are
            # disjoint (appends add, rewrites retire other files), so
            # this order is identity for old logs — and it lets a
            # METADATA-UPDATE commit (rebloom) carry the same path in
            # both sets: the remove validates the file is still live
            # (CommitConflict if a rewrite retired it mid-flight), the
            # add re-registers it with the refreshed entry
            for r in rec.get("remove", ()):
                live.pop(r, None)
            for ent in rec.get("add", ()):
                live[ent["path"]] = ent
            if rec.get("schema") is not None:
                schema = rec["schema"]
            for cn, ce in (rec.get("set_constraints") or {}).items():
                constraints[cn] = ce
            for cn in rec.get("drop_constraints") or ():
                constraints.pop(cn, None)
            app = rec.get("app")
            if app is not None:
                appv = rec.get("appv", 0)
                if appv > apps.get(app, -1):
                    apps[app] = appv
        self.last_state_file_opens = opens
        return live, apps, schema, constraints

    def _check_version_range(self, version: int) -> int:
        """Validate a requested snapshot version up front with a
        descriptive error — an out-of-range replay would otherwise
        surface as a raw FileNotFoundError on the first missing
        commit file (ADVICE r9)."""
        current = self.version()
        if not isinstance(version, int) or version < 0 or version > current:
            raise ValueError(
                f"version {version!r} out of range for txn table "
                f"{self.path} (latest is {current})"
            )
        return version

    def version_at(self, timestamp: float) -> int:
        """TIMESTAMP AS OF resolution (the Delta analog): the highest
        version whose commit time is ≤ ``timestamp`` (0 = the empty
        pre-history when the first commit is already later).  Commit
        times are recorded IN the commit record at publish (never
        file mtimes, which rewrites/copies disturb); versions are
        published in order, so commit times are monotone per host and
        a BINARY SEARCH resolves in O(log commits) metadata opens —
        never a full replay.  Multi-host clock skew can locally
        disorder timestamps; the binary search then lands on A
        boundary consistent with the recorded times, which is the
        strongest guarantee wall-clock travel can offer (Delta's
        contract is the same).  Commits from writers predating
        timestamp tracking sort as time 0 (always included)."""
        lo, hi = 1, self.version()
        if hi == 0:
            return 0
        ans = 0
        while lo <= hi:
            mid = (lo + hi) // 2
            ts = self._read_commit(mid).get("ts") or 0.0
            if ts <= timestamp:
                ans = mid
                lo = mid + 1
            else:
                hi = mid - 1
        return ans

    def state(
        self, version: int | None = None, use_checkpoints: bool = True
    ) -> dict[str, dict]:
        """Relative file path → its add-entry ({path, rows, partition,
        stats}) for every file live at ``version`` (default: current).
        Checkpoint-accelerated; see :meth:`_resolve`."""
        upto = (
            self.version() if version is None else self._check_version_range(version)
        )
        return self._resolve(upto, use_checkpoints)[0]

    def app_versions(
        self, version: int | None = None, use_checkpoints: bool = True
    ) -> dict[str, int]:
        """Highest ``app_version`` committed per application id — the
        Delta-style transaction-identifier table that makes replayed
        idempotent writers (a streaming epoch re-run) no-ops.
        Checkpoint-accelerated like :meth:`state` (the checkpoint
        carries the marks, so resolution never replays the full
        log)."""
        upto = (
            self.version() if version is None else self._check_version_range(version)
        )
        return self._resolve(upto, use_checkpoints)[1]

    def table_schema(
        self, version: int | None = None, use_checkpoints: bool = True
    ) -> list | None:
        """The table schema at ``version`` as [[name,
        sparkSimpleTypeString], ...], or None for logs written before
        schema tracking (enforcement then starts with the next
        schema-carrying append).  Versioned like :meth:`state` — time
        travel sees the schema the snapshot was written under."""
        upto = (
            self.version() if version is None else self._check_version_range(version)
        )
        return self._resolve(upto, use_checkpoints)[2]

    def constraints(
        self, version: int | None = None, use_checkpoints: bool = True
    ) -> dict[str, str]:
        """Active CHECK constraints {name: sql_expr} at ``version`` —
        versioned and checkpoint-carried like the schema."""
        upto = (
            self.version() if version is None else self._check_version_range(version)
        )
        return self._resolve(upto, use_checkpoints)[3]

    def add_constraint(self, name: str, sql_expr: str) -> int:
        """Register a CHECK constraint (Delta ``ALTER TABLE ADD
        CONSTRAINT`` analog): every LATER append/merge must satisfy
        ``sql_expr`` (SQL CHECK semantics — NULL passes, FALSE
        rejects) or it fails with :class:`ConstraintViolation` before
        any file lands.  The registration itself validates against
        the CURRENT snapshot, so a constraint can never be added that
        existing data already violates.  Metadata-only commit; fully
        versioned (time travel sees the constraints active at the
        snapshot)."""
        if self.spark is not None and self.live_files():
            df = self.read()
            bad = df.where(F.expr(sql_expr) == F.lit(False)).count()
            if bad:
                raise ConstraintViolation(
                    f"cannot add constraint {name!r} ({sql_expr}): {bad} "
                    "existing rows violate it"
                )
        rec_extra = {"set_constraints": {name: sql_expr}}
        return self._commit_meta(rec_extra, op="set_constraint")

    def drop_constraint(self, name: str) -> int:
        """Retire a CHECK constraint (metadata-only commit)."""
        return self._commit_meta({"drop_constraints": [name]}, op="drop_constraint")

    def _commit_meta(self, extra: dict, op: str) -> int:
        """Publish a data-free commit carrying constraint metadata,
        through the same atomic slot arbitration as data commits."""
        rec = {
            "op": op,
            "writer": _writer_id(),
            "ts": _now(),
            "add": [],
            "remove": [],
        }
        rec.update(extra)
        payload = json.dumps(rec)
        while True:
            v = self.version() + 1
            if self._publish_commit(v, payload):
                self._maybe_checkpoint(v)
                return v

    def _check_constraints(self, df: DataFrame) -> None:
        """Validate an incoming frame against every active constraint
        in ONE job (a single conditional-sum aggregate row)."""
        active = self.constraints()
        if not active:
            return
        names = list(active)
        counts = df.agg(
            *[
                F.sum(
                    F.when(F.expr(active[n]) == F.lit(False), 1).otherwise(0)
                ).alias(f"c{i}")
                for i, n in enumerate(names)
            ]
        ).first()
        bad = [
            f"{n} ({active[n]}): {counts[i]} rows"
            for i, n in enumerate(names)
            if (counts[i] or 0) > 0
        ]
        if bad:
            raise ConstraintViolation(
                f"append to {self.path} violates CHECK constraints — "
                + "; ".join(bad)
            )

    def _merged_schema(self, df: DataFrame) -> list:
        """Validate ``df`` against the current table schema and return
        the merged (evolved) schema to record with the commit.

        Existing columns must keep their exact type; new columns
        append (additive evolution, the Delta/mergeSchema contract
        enforced at WRITE time).  Raises :class:`SchemaConflict` with
        the offending columns named."""
        return self._merge_incoming(
            [[f.name, f.dataType.simpleString()] for f in df.schema.fields]
        )

    def _merge_incoming(self, incoming: list) -> list:
        """Merge an incoming [[name, type], ...] column list against
        the CURRENT table schema (see :meth:`_merged_schema`).  Split
        out so ``commit`` can RE-merge against the fresh snapshot
        after losing a version race — two concurrent column-evolving
        appends must both keep their columns in the tracked schema
        (ADVICE r10: pre-computing once let the loser's column be
        dropped by last-writer-wins)."""
        current = self.table_schema()
        if current is None:
            return incoming
        known = {n: t for n, t in current}
        conflicts = [
            (n, known[n], t) for n, t in incoming if n in known and known[n] != t
        ]
        if conflicts:
            detail = "; ".join(
                f"{n}: table has {told}, append has {tnew}"
                for n, told, tnew in conflicts
            )
            raise SchemaConflict(
                f"append to {self.path} redefines existing column types "
                f"({detail}); cast the frame to the table types (or write "
                "a new column) — type changes are not additive evolution"
            )
        merged = [list(x) for x in current]
        have = set(known)
        for n, t in incoming:
            if n not in have:
                merged.append([n, t])
        return merged

    def _maybe_checkpoint(self, version: int) -> None:
        """After commit ``version`` lands: if it's a checkpoint
        boundary, publish the full live state as
        ``_txn/c{version}.json``.  Write-temp-then-``os.link`` makes
        the publish atomic AND arbitrated (the hardlink fails with
        FileExistsError if a racing committer of the SAME version
        already checkpointed — contents would be identical anyway, the
        state at a fixed version is immutable).  Old checkpoints
        beyond ``CHECKPOINTS_RETAINED`` are pruned; time travel past
        them falls back to full replay."""
        if self.checkpoint_every <= 0 or version % self.checkpoint_every != 0:
            return
        live, apps, schema, constraints = self._resolve(version)
        payload = json.dumps(
            {
                "version": version,
                "live": sorted(live.values(), key=lambda e: e["path"]),
                "apps": apps,
                "schema": schema,
                "constraints": constraints,
            }
        )
        # Checkpoints are an accelerator, never a correctness
        # dependency — and this runs AFTER the commit file published,
        # so no error here may escape (the caller would see a failed
        # commit that actually succeeded and retry/double-write).  On
        # filesystems without hardlink support os.link raises plain
        # OSError, not FileExistsError: swallow the whole publish.
        tmp = self._ckpt_path(version) + f".tmp.{_uuid.uuid4().hex[:8]}"
        try:
            with open(tmp, "w") as f:
                f.write(payload)
            try:
                os.link(tmp, self._ckpt_path(version))
            except FileExistsError:
                pass  # a racing committer already published this version
            finally:
                os.unlink(tmp)
            old = self._checkpoint_versions()[: -self.CHECKPOINTS_RETAINED]
            for v in old:
                try:
                    os.unlink(self._ckpt_path(v))
                except FileNotFoundError:
                    pass  # another pruner got it
        except OSError:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def commit(
        self,
        add: list[dict] | None = None,
        remove: list[str] | None = None,
        op: str = "append",
        app: str | None = None,
        app_version: int | None = None,
        schema: list | None = None,
        schema_incoming: list | None = None,
        expect_constraints: dict | None = None,
    ) -> int | None:
        """Atomically publish a commit; returns its version.  Loops on
        version collisions (another writer took the slot), re-playing
        the log each attempt; raises :class:`CommitConflict` the
        moment any ``remove`` target is no longer live — the caller's
        snapshot is stale and only IT knows how to redo the rewrite.

        ``schema_incoming`` is the INCOMING frame's [[name, type]]
        list: the recorded table schema is re-merged against the
        fresh snapshot on EVERY attempt, so a lost version race can
        never drop a concurrent writer's evolved column (ADVICE r10).
        ``expect_constraints`` is the CHECK-constraint set the caller
        validated its rows against: if the active set differs at
        claim time (a concurrent add_constraint landed), the commit
        fails with :class:`CommitConflict` so the writer revalidates
        — a committed snapshot can then never violate an active
        constraint (ADVICE r10; both sides serialize through the
        version slots, so an add_constraint that lands AFTER this
        commit validated against a snapshot that already includes
        these rows).

        ``app``/``app_version`` make the commit IDEMPOTENT (the Delta
        transaction-identifier pattern): if the log already holds a
        commit from ``app`` at ``app_version`` or later, nothing is
        written and None returns — a replayed streaming epoch or a
        retried writer whose first attempt DID land can never store
        its rows twice.  The check runs inside the optimistic loop,
        so two processes racing the same (app, version) serialize
        through the O_EXCL slot and exactly one wins."""
        add = add or []
        remove = remove or []
        rec = {
            "op": op,
            "writer": _writer_id(),
            "ts": _now(),
            "add": add,
            "remove": remove,
        }
        if schema is not None:
            # the table schema AS OF this commit ([[name, type], ...]);
            # _resolve keeps the latest, table_schema() serves it
            rec["schema"] = schema
        if app is not None:
            if app_version is None:
                raise ValueError("app requires app_version")
            rec["app"] = app
            rec["appv"] = int(app_version)
        payload = json.dumps(rec)
        while True:
            if app is not None:
                if self.app_versions().get(app, -1) >= app_version:
                    return None  # already applied: idempotent no-op
            if expect_constraints is not None:
                active = self.constraints()
                if active != expect_constraints:
                    raise CommitConflict(
                        f"{op}: CHECK constraints changed since this write "
                        f"validated (was {sorted(expect_constraints)}, now "
                        f"{sorted(active)}); revalidate and retry"
                    )
            if schema_incoming is not None:
                rec["schema"] = self._merge_incoming(schema_incoming)
                payload = json.dumps(rec)
            if remove:
                live = self.state()
                gone = [r for r in remove if r not in live]
                if gone:
                    raise CommitConflict(
                        f"{op}: {len(gone)} remove targets no longer live "
                        f"(e.g. {gone[0]}); retry from a fresh snapshot"
                    )
            v = self.version() + 1
            if not self._publish_commit(v, payload):
                continue  # lost the version race; re-validate and retry
            self._maybe_checkpoint(v)
            return v

    def _publish_commit(self, version: int, payload: str) -> bool:
        """Atomically claim version slot ``version`` with ``payload``;
        False when another writer took the slot.

        Publish = write a PRIVATE temp (dot-prefixed, invisible to
        ``version()``'s listing), fsync, then ``os.link(tmp,
        v{N}.json)``.  The hardlink keeps the O_EXCL arbitration
        (FileExistsError → slot lost) AND the commit file can never
        exist empty or torn — the same idiom as the maintenance-lock
        pid publish (store.py) and the checkpoint publish above.  The
        old O_EXCL-create-then-buffered-write left a window where a
        concurrent reader listed a 0-byte v-file (transient read
        failures) and a writer crash in the window wedged the table
        permanently (VERDICT r9 What's wrong #1).

        On filesystems without hardlink support (os.link raises plain
        OSError) we degrade to O_EXCL create + write + fsync — the
        claim stays atomic but a crash between create and fsync can
        leave a torn file; :class:`CorruptCommit` names it loudly."""
        tmp = os.path.join(
            self._txn, f".v{version:08d}.tmp.{_uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._commit_path(version))
            return True
        except FileExistsError:
            return False
        except OSError:
            # hardlink-less filesystem: degraded-but-claimed publish
            try:
                fd = os.open(
                    self._commit_path(version),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                return False
            with os.fdopen(fd, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            return True
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    # --- data plane ------------------------------------------------------

    def _abs(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    def live_files(
        self,
        version: int | None = None,
        partitions: dict | None = None,
        ranges: dict | None = None,
        equals: dict | None = None,
    ) -> list[str]:
        """Relative paths live at ``version``, manifest-pruned by
        ``partitions`` (column → allowed value list), by ``ranges``
        (column → (lo, hi) inclusive bounds matched against the
        per-file min/max stats — Iceberg-style data skipping), and by
        ``equals`` (column → exact value: files are dropped when the
        per-file BLOOM proves the value absent, or when the value
        falls outside the file's min/max range — the point-lookup
        path for ``bloom_cols`` columns) — all WITHOUT touching the
        filesystem.  A file lacking stats/blooms for a queried column
        is conservatively kept."""
        ents = self.state(version).values()
        out = []
        for e in ents:
            if partitions:
                part = e.get("partition") or {}
                if any(part.get(c) not in vals for c, vals in partitions.items()):
                    continue
            if ranges:
                stats = e.get("stats") or {}
                skip = False
                for c, (lo, hi) in ranges.items():
                    if c not in stats:
                        continue  # no stats: keep (skipping must be safe)
                    fmin, fmax = stats[c]
                    try:
                        if (hi is not None and fmin > hi) or (
                            lo is not None and fmax < lo
                        ):
                            skip = True
                            break
                    except TypeError:
                        # incomparable bound/stat types (caller passed a
                        # numeric bound against string stats — Spark
                        # would CAST, we can't): keep the file, exactly
                        # like the equals branch below (ADVICE r11 #4)
                        pass
                if skip:
                    continue
            if equals:
                stats = e.get("stats") or {}
                blooms = e.get("blooms") or {}
                skip = False
                for c, v in equals.items():
                    if c in stats:
                        fmin, fmax = stats[c]
                        try:
                            if v < fmin or v > fmax:
                                skip = True
                                break
                        except TypeError:
                            pass  # incomparable stat types: bloom decides
                    b = blooms.get(c)
                    if b is not None and not _bloom_might_contain(b, v):
                        skip = True
                        break
                if skip:
                    continue
            out.append(e["path"])
        return sorted(out)

    def read(
        self,
        version: int | None = None,
        partitions: dict | None = None,
        ranges: dict | None = None,
        files: list[str] | None = None,
        equals: dict | None = None,
    ) -> DataFrame:
        """Snapshot read.  ``ranges``/``equals`` skip files from
        manifest stats and blooms only — callers still apply the
        actual row filter (skipping is a superset guarantee, exactly
        as in Iceberg/Delta).  ``files`` short-circuits log resolution
        with a list the caller already obtained from
        :meth:`live_files` — callers that need both the file list and
        the DataFrame resolve the log once, not twice."""
        if files is None:
            files = self.live_files(version, partitions, ranges, equals)
        if not files:
            raise ValueError(
                f"txn table {self.path} has no live files for this "
                "version/partition selection"
            )
        return (
            self.spark.read.option("basePath", self.path)
            .option("mergeSchema", "true")
            .parquet(*[self._abs(f) for f in files])
        )

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change-data-feed read at FILE grain (the Delta CDF
        pattern, `table_changes(from, to)`): every row touched by a
        DATA-CHANGING commit in ``(from_version, to_version]``,
        tagged with ``_change_type`` and ``_commit_version`` —
        the primitive an incremental downstream consumer (derived
        table, cache invalidation, reverse-ETL) polls instead of
        re-reading snapshots.

        ``_change_type``: ``insert`` (append adds), ``merge_upsert``
        (merge adds — the post-image of the rewritten files),
        ``merge_preimage`` (merge removes), ``delete`` (expire
        removes).  ``compact``/``rebloom``/metadata commits are
        content-preserving and contribute NOTHING — the feed is
        about logical change, not file churn.  Pre-image/deleted
        files already vacuumed off disk are skipped (the feed
        degrades to post-image-only past the retention horizon,
        exactly as Delta's CDF does).

        Scale: one parquet scan over the changed files only (never a
        snapshot diff); the (file → version/type) attribution is a
        broadcast map-join keyed on ``input_file_name`` — commit
        metadata stays driver-side JSON, rows never round-trip."""
        to_v = self.version() if to_version is None else int(to_version)
        if not 0 <= int(from_version) <= to_v:
            raise ValueError(
                f"changes: need 0 <= from_version <= to_version "
                f"(got {from_version}, {to_v})"
            )
        tagged: list[tuple[str, int, str]] = []  # (abs, version, type)
        for rec in self.history(since=int(from_version) + 1):
            v = rec["version"]
            if v > to_v:
                break
            op = rec.get("op")
            if op == "append":
                kinds = [("add", "insert")]
            elif op == "merge":
                kinds = [("add", "merge_upsert"), ("remove", "merge_preimage")]
            elif op == "expire":
                kinds = [("remove", "delete")]
            else:
                continue  # compact/rebloom/meta: content-preserving
            for key, ctype in kinds:
                for e in rec.get(key) or []:
                    rel = e["path"] if isinstance(e, dict) else e
                    p = self._abs(rel)
                    if os.path.exists(p):  # vacuumed pre-images skip
                        tagged.append((p, v, ctype))
        if not tagged:
            from pyspark.sql import types as T

            try:
                schema = self.read(version=to_v).schema
            except ValueError:  # empty snapshot: metadata-only feed
                schema = T.StructType()
            schema = T.StructType(
                list(schema)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            )
            return self.spark.createDataFrame([], schema)
        data = (
            self.spark.read.option("basePath", self.path)
            .option("mergeSchema", "true")
            .parquet(*sorted({p for p, _, _ in tagged}))
        )
        fmap = self.spark.createDataFrame(
            [(p, v, c) for p, v, c in tagged],
            "_cdf_file string, _commit_version long, _change_type string",
        )
        # input_file_name() is a percent-encoded URI (space -> %20,
        # %% -> %25; literal '+' stays '+').  Protect '+' (URLDecoder
        # would turn it into a space), then percent-decode, so paths
        # with spaces / non-ASCII partition values still match the
        # driver-side tagged filesystem paths.
        fname = F.url_decode(
            F.regexp_replace(
                F.regexp_replace(F.input_file_name(), r"\+", "%2B"),
                "^file:(//)?",
                "",
            )
        )
        return (
            data.withColumn("_cdf_file", fname)
            .join(F.broadcast(fmap), "_cdf_file")
            .drop("_cdf_file")
        )

    def export_manifest(
        self, version: int | None = None, out_path: str | None = None
    ) -> dict:
        """Materialize one snapshot as a plain JSON manifest any
        engine can consume WITHOUT understanding the commit log —
        the external-interop answer for DuckDB/Trino-style readers
        (the reference's whole analytics model is external engines
        over shared storage, README.md:27-31).  The manifest lists
        ABSOLUTE file paths (``files``), per-file partition values
        and row counts (``entries``), and the snapshot ``version``;
        a DuckDB reader gets snapshot consistency via
        ``read_parquet([...files])`` — combined with
        ``vacuum(min_age_seconds=...)`` the listed files stay on disk
        for the retention horizon even if rewrites land after the
        export.  Written atomically (temp + rename) when ``out_path``
        is given, so a half-written manifest is never visible."""
        v = self.version() if version is None else version
        ents = sorted(self.state(v).values(), key=lambda e: e["path"])
        manifest = {
            "table": self.path,
            "version": v,
            "files": [self._abs(e["path"]) for e in ents],
            "entries": ents,
        }
        if out_path:
            tmp = out_path + f".tmp.{_uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, out_path)
        return manifest

    def append(
        self,
        df: DataFrame,
        partition_col: str | None = None,
        app: str | None = None,
        app_version: int | None = None,
    ) -> int | None:
        """Stage → move → commit.  The Spark write lands in a private
        staging dir; its files move (same-filesystem rename) into the
        table tree under log-unique names and become visible in ONE
        commit — concurrent appends interleave safely and a crash at
        any point publishes nothing.

        With ``app``/``app_version`` the append is IDEMPOTENT: an
        already-applied (app, version) skips the Spark write entirely
        and returns None; if a concurrent same-app commit lands
        between the early check and this writer's commit slot, the
        staged files become invisible orphans (vacuum reclaims) and
        None still returns — rows can never land twice."""
        if app is not None:
            if app_version is None:
                raise ValueError("app requires app_version")
            if self.app_versions().get(app, -1) >= app_version:
                return None  # replay of an applied epoch: skip the write too
        incoming = [[f.name, f.dataType.simpleString()] for f in df.schema.fields]
        self._merge_incoming(incoming)  # reject type conflicts BEFORE writing
        validated = self.constraints()  # the set these rows are checked against
        self._check_constraints(df)  # CHECK constraints gate the write too
        tag = _uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, _STAGING_DIR, tag)
        writer = df.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(staging)
        add = self._publish_staging(tag)
        # schema_incoming re-merges per commit attempt (a lost race
        # must not drop a concurrent writer's column);
        # expect_constraints turns a concurrent add_constraint into a
        # CommitConflict instead of a silently-unvalidated commit
        return self.commit(
            add=add,
            op="append",
            app=app,
            app_version=app_version,
            schema_incoming=incoming,
            expect_constraints=validated,
        )

    def _publish_staging(self, tag: str) -> list[dict]:
        """Move a staging write's parquet files into the table tree
        under log-unique ``<tag>-`` names (same-filesystem rename),
        returning their add-entries with partition values parsed from
        the hive directory layout.  The files are INVISIBLE until the
        caller's commit lands."""
        staging = os.path.join(self.path, _STAGING_DIR, tag)
        add = []
        for dirpath, _dirs, files in os.walk(staging):
            reldir = os.path.relpath(dirpath, staging)
            partition = None
            if reldir != ".":
                partition = dict(
                    seg.split("=", 1) for seg in reldir.split(os.sep) if "=" in seg
                )
            for fname in files:
                if not fname.endswith(".parquet"):
                    continue
                destdir = self.path if reldir == "." else os.path.join(self.path, reldir)
                os.makedirs(destdir, exist_ok=True)
                final = f"{tag}-{fname}"
                os.replace(os.path.join(dirpath, fname), os.path.join(destdir, final))
                rel = final if reldir == "." else os.path.join(reldir, final)
                ent = {
                    "path": rel.replace(os.sep, "/"),
                    "rows": _file_rows(self._abs(rel)),
                    "partition": partition,
                    "stats": _file_stats(self._abs(rel)),
                }
                add.append(ent)
        shutil.rmtree(staging, ignore_errors=True)
        self._attach_blooms(add)
        return add

    def _attach_blooms(self, add: list[dict]) -> None:
        """Attach per-file blooms to add-entries for ``bloom_cols``.
        Spark-attached tables build them EXECUTOR-SIDE in one batch
        job (the committer only handles finished bitsets — never a
        driver-side data read, VERDICT r10 Next #1); a sparkless
        log-only writer falls back to the in-process pyarrow build
        over the files it just wrote itself."""
        if not self.bloom_cols or not add:
            return
        amap = {self._abs(e["path"]): e for e in add}
        if self.spark is not None:
            blooms = _blooms_via_spark(self.spark, list(amap), self.bloom_cols)
        else:
            blooms = {
                p: b
                for p in amap
                if (b := _file_blooms(p, self.bloom_cols)) is not None
            }
        for p, b in blooms.items():
            if b:
                amap[p]["blooms"] = b

    def append_files(self, files: list[str], partition: dict | None = None) -> int:
        """Log-only append of pre-written parquet files already inside
        the table tree (relative paths) — the sparkless writer path."""
        add = []
        for f in files:
            ent = {
                "path": f.replace(os.sep, "/"),
                "rows": _file_rows(self._abs(f)),
                "partition": partition,
                "stats": _file_stats(self._abs(f)),
            }
            add.append(ent)
        self._attach_blooms(add)
        return self.commit(add=add, op="append")

    def rebloom(self, max_retries: int = 5) -> int:
        """Backfill bloom filters for live files that predate this
        table's ``bloom_cols`` setting — a METADATA-ONLY commit (no
        data file is rewritten): each stale entry is re-registered
        with freshly computed blooms by carrying its path in BOTH the
        remove and add sets of one commit.  Replay applies removes
        first, so the entry updates in place; the remove set's
        liveness validation makes the update conflict-safe (a compact
        retiring one of the files mid-flight raises CommitConflict
        and the rebloom retries against the fresh snapshot, skipping
        the retired file).  Returns the number of entries backfilled.

        This is the heal path the maintenance cycle wants after
        ``set_bloom_cols`` on a table with history: compaction would
        also re-bloom, but rewriting data to fix metadata is the
        wrong cost model — this touches only the bloomed columns of
        the stale files once."""
        if not self.bloom_cols:
            return 0

        def _stale_col(blooms: dict, c: str) -> bool:
            b = blooms.get(c)
            # missing, OR stamped under a different _bloom_key format
            # (pre-versioning manifests have no stamp): both probe
            # always-true until rebuilt here (ADVICE r11 #5)
            return b is None or b.get("v") != _BLOOM_FMT

        for _ in range(max_retries):
            stale = [
                dict(e)
                for e in self.state().values()
                if any(_stale_col(e.get("blooms") or {}, c) for c in self.bloom_cols)
            ]
            if not stale:
                return 0
            amap = {self._abs(e["path"]): e for e in stale}
            if self.spark is not None:
                # executor-side batch jobs, CHUNKED so a million-file
                # heal never funnels every partial bitset through one
                # driver collect (~10 KB per (file,col) × files —
                # VERDICT r11 What's wrong #3); per-file fallback for
                # heterogeneous legacy schemas lives inside the helper
                paths = list(amap)
                bl = {}
                for i in range(0, len(paths), self.REBLOOM_CHUNK_FILES):
                    bl.update(
                        _blooms_via_spark(
                            self.spark,
                            paths[i : i + self.REBLOOM_CHUNK_FILES],
                            self.bloom_cols,
                        )
                    )
            else:
                bl = {
                    p: b
                    for p in amap
                    if (b := _file_blooms(p, self.bloom_cols)) is not None
                }
            updated = []
            for p, e in amap.items():
                blooms = bl.get(p)
                if not blooms:
                    continue  # column absent in this file: nothing to add
                e["blooms"] = {**(e.get("blooms") or {}), **blooms}
                updated.append(e)
            if not updated:
                return 0
            try:
                self.commit(
                    add=updated,
                    remove=[e["path"] for e in updated],
                    op="rebloom",
                )
                return len(updated)
            except CommitConflict:
                continue  # a rewrite retired a stale file; re-snapshot
        raise CommitConflict(f"rebloom lost {max_retries} races; giving up")

    def _zorder_column(
        self,
        df: DataFrame,
        cols: list[str],
        bits_total: int = 16,
        quantize: str = "rank",
    ):
        """Morton (Z-order) key over ``cols``: each column is
        quantized to ``bits_total // len(cols)`` bits, then the bucket
        bits are interleaved with pure shift/mask column arithmetic
        (whole-stage codegen, no UDF).

        ``quantize="rank"`` (default) buckets by APPROXIMATE QUANTILE
        boundaries (one ``approxQuantile`` pass, ~2^bits scalars to
        the driver) — skew-robust: a heavy-hitter value can hog at
        most its own bucket, so the other buckets keep discriminating
        and range reads still skip.  ``"uniform"`` buckets by equal
        widths between min and max (one tiny min/max aggregate) — the
        round-7 behavior, where one outlier stretches the span and a
        skewed column collapses into a single bucket.  The bucket
        assignment for rank mode counts boundaries ≤ value with ONE
        higher-order ``aggregate`` over a literal boundary array
        (codegen, no UDF, no join).

        Null columns contribute bucket 0; a constant (or
        quantile-degenerate) column stops discriminating — never an
        error."""
        from pyspark.sql import functions as F

        if quantize not in ("rank", "uniform"):
            raise ValueError(f"unknown zorder quantization: {quantize!r}")
        bits = max(1, bits_total // len(cols))
        buckets = []
        if quantize == "rank":
            probs = [i / (2**bits) for i in range(1, 2**bits)]
            for c in cols:
                try:
                    bnds = sorted(set(df.stat.approxQuantile(c, probs, 0.001)))
                except Exception:
                    bnds = []  # non-numeric / all-null: no discrimination
                if not bnds:
                    buckets.append(F.lit(0).cast("long"))
                    continue
                arr = F.array(*[F.lit(float(x)) for x in bnds])
                b = F.aggregate(
                    arr,
                    F.lit(0).cast("long"),
                    lambda acc, bd: acc
                    + F.when(F.col(c).cast("double") >= bd, 1)
                    .otherwise(0)
                    .cast("long"),
                )
                buckets.append(
                    F.when(F.col(c).isNull(), F.lit(0)).otherwise(
                        F.least(b, F.lit(2**bits - 1))
                    )
                )
        else:
            aggs = []
            for c in cols:
                aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
            row = df.agg(*aggs).collect()[0]
            for c in cols:
                lo, hi = row[f"_lo_{c}"], row[f"_hi_{c}"]
                if lo is None or hi is None or lo == hi:
                    buckets.append(F.lit(0).cast("long"))
                    continue
                span = float(hi) - float(lo)
                b = F.floor(
                    (F.col(c).cast("double") - F.lit(float(lo)))
                    / F.lit(span)
                    * (2**bits)
                ).cast("long")
                buckets.append(
                    F.when(F.col(c).isNull(), F.lit(0)).otherwise(
                        F.least(F.greatest(b, F.lit(0)), F.lit(2**bits - 1))
                    )
                )
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for i, bcol in enumerate(buckets):
                z = z + F.shiftleft(
                    F.shiftright(bcol.bitwiseAND(F.lit(1 << bit)), bit),
                    bit * len(cols) + i,
                ).cast("long")
        return z

    def replace(
        self,
        df: DataFrame,
        partition_col: str | None = None,
        max_retries: int = 5,
        app: str | None = None,
        app_version: int | None = None,
        remove_files: list[str] | None = None,
    ) -> int | None:
        """Atomic full overwrite (CREATE OR REPLACE the content):
        stage the new frame, then ONE ``merge`` commit whose remove
        set is the entire current snapshot — readers flip from old to
        new content at a single version, and the change feed reports
        the swap as ``merge_preimage``/``merge_upsert`` rows (exactly
        how Delta's CDF renders an overwrite).  The materialized-view
        full refresh rides this; optimistic like :meth:`merge` — a
        concurrent rewrite invalidating the remove set retries from
        the fresh snapshot.

        ``app``/``app_version`` tag the merge commit with the
        idempotent-writer transaction id (ADVICE r15: without it, a
        crash between a full-refresh replace and its meta write left
        the applied high-water mark at the pre-replace version, and
        the next incremental refresh re-appended rows the snapshot
        already contains); an already-applied (app, version) returns
        None without committing, like :meth:`append`.

        ``remove_files`` pins the remove set to the EXACT snapshot
        the caller staged from instead of re-reading state() at each
        commit attempt (ADVICE r15: the re-snapshot silently retired
        a concurrent increment's files whose rows were not in the
        staged frame).  With a pinned remove set a conflicting
        rewrite surfaces as CommitConflict to the CALLER (who must
        restage), never an internal retry; concurrent appends stay
        live beside the new content — correct for cells-grain
        compaction, whose consumption re-aggregates."""
        if app is not None:
            if app_version is None:
                raise ValueError("app requires app_version")
            # mirror append(): an already-applied (app, version) skips
            # the Spark write too — otherwise an idempotent replay
            # still pays the full staging write and leaves published
            # orphan files commit() then never references (ADVICE r16)
            if self.app_versions().get(app, -1) >= app_version:
                return None
        incoming = [[f.name, f.dataType.simpleString()] for f in df.schema.fields]
        self._merge_incoming(incoming)
        # same layout guard as merge(): a partitioned table's pre- and
        # post-image files must share one layout or the change feed's
        # single mixed scan cannot attribute the swap
        live_parts = {
            c
            for e in self.state().values()
            for c in (e.get("partition") or {})
        }
        if live_parts and partition_col is None:
            raise ValueError(
                f"replace: table is partitioned by {sorted(live_parts)}; "
                "pass partition_col so the new content keeps the layout"
            )
        validated = self.constraints()
        self._check_constraints(df)
        tag = _uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, _STAGING_DIR, tag)
        writer = df.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(staging)
        add = self._publish_staging(tag)
        for attempt in range(max_retries + 1):
            snapshot = (
                list(remove_files)
                if remove_files is not None
                else sorted(self.state().keys())
            )
            try:
                return self.commit(
                    add=add,
                    remove=snapshot,
                    op="merge",
                    app=app,
                    app_version=app_version,
                    schema_incoming=incoming,
                    expect_constraints=validated,
                )
            except CommitConflict:
                if remove_files is not None or attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def compact(
        self,
        partition_col: str | None = None,
        max_retries: int = 5,
        sort_by: str | None = None,
        zorder_by: list[str] | None = None,
        zorder_quantize: str = "rank",
        max_records_per_file: int | None = None,
    ) -> int:
        """Rewrite the current snapshot at one file per partition and
        retire the snapshot's files in the same commit.  Loses a race
        against another rewrite → retries from the fresh snapshot
        (appends landing mid-compact are untouched and stay live).

        ``partition_col`` must match the table's layout: a rewrite
        that drops (or invents) the hive partitioning would leave
        mixed directory structures that Spark's partition discovery
        refuses — same contract as any lakehouse OPTIMIZE.

        ``sort_by`` clusters rows within each rewritten partition
        (``sortWithinPartitions``) so the per-file min/max stats
        tighten and range reads skip more files — the linear cousin
        of OPTIMIZE ZORDER BY, sufficient for one dominant filter
        column (time, id).  ``zorder_by`` is the multi-column form:
        rows sort by a Morton-interleaved key over the listed
        columns, so EVERY listed column's per-file ranges tighten and
        range reads skip on any of them (OPTIMIZE ZORDER BY
        semantics; mutually exclusive with ``sort_by``).
        ``zorder_quantize`` picks the bucket scheme — "rank"
        (quantile boundaries, skew-robust, default) or "uniform"
        (min/max widths; one outlier collapses a skewed column into
        a single bucket — see :meth:`_zorder_column`)."""
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        for _ in range(max_retries):
            snap_version = self.version()
            snapshot = self.live_files(snap_version)
            df = self.read(version=snap_version)
            tag = _uuid.uuid4().hex[:12]
            staging = os.path.join(self.path, _STAGING_DIR, tag)
            if partition_col:
                from pyspark.sql import functions as F

                out = df.repartition(F.col(partition_col))
            else:
                out = df.coalesce(1)
            if zorder_by:
                out = (
                    out.withColumn(
                        "_z",
                        self._zorder_column(
                            df, zorder_by, quantize=zorder_quantize
                        ),
                    )
                    .sortWithinPartitions("_z")
                    .drop("_z")
                )
            elif sort_by:
                out = out.sortWithinPartitions(sort_by)
            writer = out.write.mode("overwrite")
            if max_records_per_file:
                # target-file-size knob: with sort_by this yields a
                # RUN of files with non-overlapping stat ranges
                writer = writer.option("maxRecordsPerFile", max_records_per_file)
            if partition_col:
                writer = writer.partitionBy(partition_col)
            writer.parquet(staging)
            add = self._publish_staging(tag)
            try:
                return self.commit(add=add, remove=snapshot, op="compact")
            except CommitConflict:
                # someone else rewrote part of our snapshot: the files
                # we just placed become orphans (vacuum reclaims) and
                # we redo from the new state
                continue
        raise CommitConflict(f"compact lost {max_retries} rewrite races; giving up")

    def merge(
        self,
        updates: DataFrame,
        key: str,
        partition_col: str | None = None,
        max_retries: int = 5,
    ) -> dict:
        """MERGE (upsert) by ``key``: rows in ``updates`` replace live
        rows with an equal key; unmatched keys insert.  ``updates``
        must carry one row per key and the table's full schema
        (including ``partition_col``'s value column when partitioned).

        FILE-LEVEL targeting from the manifest: only live files whose
        recorded [min, max] range of ``key`` overlaps the update
        batch's key range are rewritten — after a sorted compaction
        that is the touched slice of the table, not all of it (the
        copy-on-write MERGE of Delta/Iceberg; a deletion-vector
        format would make the untouched-row copy go away too).
        Files without key stats are conservatively rewritten.
        Optimistic like ``compact``: a lost race against another
        rewrite retries from the fresh snapshot; concurrent appends
        outside the remove set stay live (their keys were not visible
        at this merge's snapshot — the usual lakehouse
        read-committed caveat).

        Returns {files_rewritten, rows_updated, rows_inserted,
        version}."""
        from pyspark.sql import functions as F

        self._merged_schema(updates)  # same write-time type gate as append
        # fail closed on a layout mismatch: rewriting a PARTITIONED
        # table without partition_col would publish the rewritten rows
        # into the unpartitioned root while removing their old files —
        # silent row loss, not an error, without this guard
        live_parts = {
            c
            for e in self.state().values()
            for c in (e.get("partition") or {})
        }
        if live_parts and partition_col is None:
            raise ValueError(
                f"merge: table is partitioned by {sorted(live_parts)}; "
                "pass partition_col so rewritten files keep the layout"
            )
        validated_constraints = self.constraints()
        self._check_constraints(updates)
        updates = updates.cache()
        n_updates = updates.count()
        if n_updates == 0:
            updates.unpersist()
            return {
                "files_rewritten": 0,
                "rows_updated": 0,
                "rows_inserted": 0,
                "version": self.version(),
            }
        # per-file targeting wants the actual key SET, not one global
        # [lo, hi] range — a single outlier key would otherwise widen
        # the range over every file.  A merge batch is request-sized
        # by contract; past 100k distinct keys fall back to the coarse
        # range (correct, just rewrites more).
        import bisect

        keys = sorted(
            r[0] for r in updates.select(key).distinct().limit(100_001).collect()
        )
        coarse = len(keys) > 100_000
        lo, hi = keys[0], keys[-1]

        def _overlaps(rng) -> bool:
            if rng is None:
                return True  # no stats: conservatively rewrite
            if coarse:
                return not (rng[0] > hi or rng[1] < lo)
            i = bisect.bisect_left(keys, rng[0])
            return i < len(keys) and keys[i] <= rng[1]

        for _ in range(max_retries):
            snap_version = self.version()
            candidates = sorted(
                e["path"]
                for e in self.state(snap_version).values()
                if _overlaps((e.get("stats") or {}).get(key))
            )
            rows_updated = 0
            if candidates:
                existing = (
                    self.spark.read.option("basePath", self.path)
                    .option("mergeSchema", "true")
                    .parquet(*[self._abs(f) for f in candidates])
                )
                rows_updated = existing.join(
                    updates.select(key), key, "left_semi"
                ).count()
                keep = existing.join(updates.select(key), key, "left_anti")
                merged = keep.select(*updates.columns).unionByName(updates)
            else:
                merged = updates
            tag = _uuid.uuid4().hex[:12]
            staging = os.path.join(self.path, _STAGING_DIR, tag)
            writer = merged.write.mode("overwrite")
            if partition_col:
                writer = (
                    merged.repartition(F.col(partition_col))
                    .write.mode("overwrite")
                    .partitionBy(partition_col)
                )
            writer.parquet(staging)
            add = self._publish_staging(tag)
            try:
                v = self.commit(
                    add=add,
                    remove=candidates,
                    op="merge",
                    expect_constraints=validated_constraints,
                )
            except CommitConflict as e:
                if "constraints changed" in str(e):
                    # revalidate the batch against the NEW constraint
                    # set, then retry with it — the kept rows were
                    # already live, only the updates need re-checking
                    validated_constraints = self.constraints()
                    self._check_constraints(updates)
                continue  # stale snapshot; staged files become orphans
            updates.unpersist()
            return {
                "files_rewritten": len(candidates),
                "rows_updated": rows_updated,
                "rows_inserted": n_updates - rows_updated,
                "version": v,
            }
        updates.unpersist()
        raise CommitConflict(f"merge lost {max_retries} rewrite races; giving up")

    def remove_partition(self, col: str, value: str) -> int:
        """Retire every live file of one partition (TTL expiry) — a
        metadata-only commit, no data rewrite."""
        victims = self.live_files(partitions={col: [value]})
        return self.commit(remove=victims, op="expire")

    def months_changed_since(
        self, version: int, end: int | None = None
    ) -> tuple[dict[str, int], bool]:
        """Which ``_month`` partitions' CONTENT changed after
        ``version`` (exclusive) — from commit METADATA only, no data
        or parquet-footer reads.  Returns ``({month:
        last_change_version}, needs_full)``:

        - ``append``  marks its add-entries' months (new rows),
        - ``expire``  marks the months parsed from its remove paths
          (rows left retention — derived aggregates must drop them),
        - ``compact`` is skipped (content-preserving repackaging),
        - ``merge``/anything else sets ``needs_full`` — in-place row
          changes carry no per-month attribution, as does any append
          entry without a ``_month`` partition value.

        This is the staleness primitive behind incremental
        materialized-rollup maintenance: a planner that recorded the
        snapshot version per refreshed month re-aggregates ONLY the
        months this reports, never the whole history.  Cost is
        O(commits since ``version``) driver-side JSON reads — bounded
        by the append rate between maintenance cycles, independent of
        table size."""
        end = self.version() if end is None else end
        changed: dict[str, int] = {}
        needs_full = False
        for v in range(version + 1, end + 1):
            rec = self._read_commit(v)
            op = rec.get("op")
            if op in ("compact", "rebloom", "set_constraint", "drop_constraint"):
                continue  # rewrites/metadata: no month's CONTENT changed
            if op == "append":
                for e in rec.get("add", ()):
                    m = (e.get("partition") or {}).get("_month")
                    if m is None:
                        needs_full = True
                    else:
                        changed[m] = v
            elif op == "expire":
                for path in rec.get("remove", ()):
                    m = _month_from_path(path)
                    if m is None:
                        needs_full = True
                    else:
                        changed[m] = v
            else:
                needs_full = True
        return changed, needs_full

    def read_incremental(
        self, since_version: int, end_version: int | None = None
    ) -> tuple[DataFrame | None, int]:
        """Incremental consumption: the rows APPENDED after
        ``since_version`` (exclusive) up to ``end_version`` (default:
        current) — the read-new-data-since-checkpoint primitive a
        downstream incremental pipeline polls (the append-only slice
        of Delta's change data feed).

        Returns (frame_or_None, end_version); the caller persists
        ``end_version`` as its next checkpoint.  Logical-content-
        preserving rewrites in the range are fine: ``compact`` adds
        no rows (its additions are excluded — they re-package rows
        already consumed), and ``expire`` only removes data the
        consumer already saw.  A ``merge``/``erase`` in the range
        UPDATES rows in place, which an append-only feed cannot
        express — that raises ValueError and the consumer must
        re-read the snapshot (same restriction Delta's CDF-less
        streaming source enforces)."""
        end = self.version() if end_version is None else end_version
        files: list[str] = []
        for v in range(since_version + 1, end + 1):
            rec = self._read_commit(v)
            op = rec.get("op")
            if op == "append":
                files.extend(e["path"] for e in rec.get("add", ()))
            elif op in (
                "compact",
                "expire",
                "rebloom",
                "set_constraint",
                "drop_constraint",
            ):
                # content-preserving / retention-only / metadata-only:
                # rebloom re-registers the SAME files with fresh bloom
                # metadata and constraint commits carry no files at all
                # — forcing consumers into a full snapshot re-read for
                # these would punish every maintenance cycle (ADVICE
                # r10: the heal path routinely emits rebloom commits)
                continue
            else:
                raise ValueError(
                    f"version {v} is a {op!r}: in-place row changes cannot "
                    "be expressed as an append-only feed — re-read the "
                    "snapshot and reset the checkpoint"
                )
        if not files:
            return None, end
        # a file appended AND expired within the range may already be
        # vacuumed; serve only those still on disk (their rows fell
        # out of retention before this consumer polled)
        present = [f for f in files if os.path.exists(self._abs(f))]
        if not present:
            return None, end
        df = (
            self.spark.read.option("basePath", self.path)
            .option("mergeSchema", "true")
            .parquet(*[self._abs(f) for f in present])
        )
        return df, end

    # --- reclamation -----------------------------------------------------

    def _vacuum_hwm_path(self) -> str:
        # leading underscore: must not match version()'s v*.json scan
        return os.path.join(self._txn, "_vacuum_hwm.json")

    def _load_vacuum_hwm(self) -> tuple[int, dict[str, int]]:
        """(last scanned version, pending tombstones path→retiring
        version).  Pending tombstones are removals vacuum has already
        SEEN but whose files it could not yet delete (retention /
        age horizon) — carrying them forward is what lets each pass
        scan only the commits since the previous pass."""
        try:
            with open(self._vacuum_hwm_path()) as f:
                d = json.load(f)
            if not isinstance(d, dict):
                raise ValueError("hwm top level must be an object")
            return int(d.get("version", 0)), {
                k: int(v) for k, v in d.get("pending", {}).items()
            }
        except (OSError, ValueError, TypeError, AttributeError):
            # corrupt in ANY shape (non-object top level, wrong value
            # types) degrades to a full rescan — the mark is an
            # accelerator, never a correctness dependency
            return 0, {}

    def _store_vacuum_hwm(self, version: int, pending: dict[str, int]) -> None:
        tmp = self._vacuum_hwm_path() + f".tmp.{_uuid.uuid4().hex[:8]}"
        try:
            with open(tmp, "w") as f:
                json.dump({"version": version, "pending": pending}, f)
            os.replace(tmp, self._vacuum_hwm_path())
        except OSError:
            # the high-water mark is an accelerator, never a
            # correctness dependency: losing it only means the next
            # vacuum re-scans commits it already saw (idempotent)
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def vacuum(
        self,
        retain_versions: int = 1,
        min_age_seconds: float = 0.0,
        orphan_min_age_seconds: float | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Delete data files that are (a) orphans no commit ever
        registered (crash debris, lost-race compactions) or (b)
        retired and not live in any of the last ``retain_versions``
        versions (time-travel horizon).  Never touches the log or
        in-flight staging.

        ``retain_versions`` defaults to 1 (NOT 0): a reader that
        resolved its snapshot at version V just before a rewrite
        landed at V+1 opens its files lazily per Spark task — zero
        retention would unlink them mid-scan, violating the
        snapshot-consistency contract above (Delta defaults to a
        7-day retention for the same reason).  ``min_age_seconds``
        adds a wall-clock horizon on top: a retired file is only
        deleted once the commit that retired it is at least this old
        (so arbitrarily long-running scans survive any
        ``retain_versions`` setting).  ``orphan_min_age_seconds``
        (defaults to ``min_age_seconds``) guards ORPHANS by the
        file's own mtime — protecting the append window between
        staging-publish and commit from a concurrent vacuum — and is
        a SEPARATE knob so the erasure path can delete its retired
        files promptly while still age-guarding in-flight appends.

        ``dry_run=True`` returns exactly what a real pass would
        delete under the same horizons but unlinks NOTHING and leaves
        the high-water mark untouched — the audit step an operator
        runs before a retention change (Delta's ``VACUUM ... DRY
        RUN``).

        Metadata cost is bounded by a persisted high-water mark
        (``_txn/_vacuum_hwm.json``): each pass replays only commits
        since the previous pass, carrying not-yet-deletable removals
        forward as pending tombstones — never the full
        O(total commits) ``history()`` replay (the read path's
        checkpoint bound, applied to the maintenance plane)."""
        import time

        if orphan_min_age_seconds is None:
            orphan_min_age_seconds = min_age_seconds
        current = self.version()
        keep: set[str] = set()
        opens = 0
        for v in range(max(1, current - retain_versions), current + 1):
            keep.update(self.state(v).keys())
            opens += self.last_state_file_opens
        # commit version that retired each path (last remove wins) —
        # the age horizon is measured from that commit file's mtime.
        # Resume from the high-water mark: `retired_at` starts as the
        # pending tombstones earlier passes saw but could not delete.
        hwm, retired_at = self._load_vacuum_hwm()
        for v in range(hwm + 1, current + 1):
            rec = self._read_commit(v)
            opens += 1
            for r in rec.get("remove", ()):
                retired_at[r] = v
        self.last_vacuum_file_opens = opens
        now = time.time()

        def _old_enough(rel: str, abs_path: str) -> bool:
            v = retired_at.get(rel)
            age = min_age_seconds if v is not None else orphan_min_age_seconds
            if age <= 0:
                return True
            try:
                ref = os.path.getmtime(
                    self._commit_path(v) if v is not None else abs_path
                )
            except OSError:
                return False  # can't date it: keep (deletion must be safe)
            return ref <= now - age

        deleted = []
        for dirpath, dirs, files in os.walk(self.path):
            rel_root = os.path.relpath(dirpath, self.path)
            if rel_root.split(os.sep)[0] in (_TXN_DIR, _STAGING_DIR):
                continue
            for fname in files:
                if not fname.endswith(".parquet"):
                    continue
                rel = (
                    fname
                    if rel_root == "."
                    else os.path.join(rel_root, fname).replace(os.sep, "/")
                )
                if rel in keep:
                    continue
                abs_path = os.path.join(dirpath, fname)
                if not _old_enough(rel, abs_path):
                    continue
                # orphan (never committed) or retired beyond horizon
                if not dry_run:
                    os.unlink(abs_path)
                deleted.append(rel)
        if dry_run:
            return sorted(deleted)
        # Advance the high-water mark; tombstones survive only while
        # their file still exists (kept by retention or age) so the
        # pending map stays bounded by the not-yet-reclaimable set.
        gone = set(deleted)
        self._store_vacuum_hwm(
            current,
            {
                p: v
                for p, v in retired_at.items()
                if p not in gone and os.path.exists(self._abs(p))
            },
        )
        return sorted(deleted)
