"""Seeded input generators for the workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical inputs, so a workload can be re-run on the same data
and compared across commits.  The program under test never sees the
seed, only the files written here.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

DAY_MS = 86_400_000
JAN_2024_MS = 1_704_067_200_000

# --- stream_dashboard ----------------------------------------------------

STREAM_COLLECTIONS = ("pageview", "click", "purchase", "signup")
# share of each epoch after the first that re-sends the exact envelope
# of an earlier epoch's event (same uuid)
DUP_RATE = 0.02
# share of MALFORMED_IN events, from epoch 1 on, whose numeric ``value``
# is a word; it fails coercion, is stored as null and dead-lettered
MALFORMED_RATE = 0.01
MALFORMED_IN = "purchase"
# pageview events carry the GeoIP, UserAgent and Referrer triggers
ENRICHED = "pageview"
IPS = ("1.2.3.4", "24.10.0.7", "81.20.3.9", "101.4.5.6", "186.7.8.9", "9.9.9.9")
USER_AGENTS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
    "Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) "
    "Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
)
REFERRERS = (
    "https://www.google.com/search?q=rakam", "https://www.bing.com/search?q=events",
    "https://t.co/abc", "https://news.example.org/story", "",
)


@dataclass
class Epoch:
    path: str
    sent: int
    dups: int
    # per collection: cumulative unique events and distinct users
    # after this epoch is stored
    totals: dict[str, tuple[int, int]] = field(default_factory=dict)
    new_fields: dict[str, str] = field(default_factory=dict)
    # cumulative malformed values among unique events after this epoch
    malformed: int = 0


def stream_epochs(out_dir: str, seed: int, n_epochs: int, events_per_epoch: int) -> list[Epoch]:
    """Envelope epochs for ``StreamingIngest.process_batch``: one JSON
    envelope per line over four collections.  ``DUP_RATE`` of each
    epoch after the first re-sends earlier envelopes, each epoch after
    the first gives one collection, in turn, a new property, pageview
    events carry the enrichment triggers and ``MALFORMED_RATE`` of
    purchase values are words.  ``totals`` and ``malformed`` hold the
    answers a correct store must give after each epoch."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sent_lines: list[str] = []
    users: dict[str, set] = {c: set() for c in STREAM_COLLECTIONS}
    counts = {c: 0 for c in STREAM_COLLECTIONS}
    extra_fields: dict[str, list[str]] = {c: [] for c in STREAM_COLLECTIONS}
    malformed = 0
    epochs = []
    for e in range(n_epochs):
        new: dict[str, str] = {}
        if e:
            coll = STREAM_COLLECTIONS[e % len(STREAM_COLLECTIONS)]
            name = f"attr_{e}"
            extra_fields[coll].append(name)
            new[coll] = name
        n_dup = int(round(events_per_epoch * DUP_RATE)) if sent_lines else 0
        n_new = events_per_epoch - n_dup
        coll_idx = rng.integers(0, len(STREAM_COLLECTIONS), n_new)
        uid = rng.integers(0, 5_000, n_new)
        offs = rng.integers(0, 28 * DAY_MS, n_new)
        val = np.round(rng.exponential(20.0, n_new), 2)
        page = rng.integers(0, 50, n_new)
        bad = rng.random(n_new) < (MALFORMED_RATE if e else 0.0)
        ip = rng.integers(0, len(IPS), n_new)
        agent = rng.integers(0, len(USER_AGENTS), n_new)
        referrer = rng.integers(0, len(REFERRERS), n_new)
        lines = []
        for i in range(n_new):
            c = STREAM_COLLECTIONS[coll_idx[i]]
            props = {
                "_user": f"u{uid[i]}",
                "_time": int(JAN_2024_MS + offs[i]),
                "value": float(val[i]),
                "page": f"/p/{page[i]}",
            }
            if c == ENRICHED:
                props["_ip"] = IPS[ip[i]]
                props["_user_agent"] = USER_AGENTS[agent[i]]
                props["_referrer"] = REFERRERS[referrer[i]]
            elif c == MALFORMED_IN and bad[i]:
                props["value"] = "unknown"
                malformed += 1
            for j, fname in enumerate(extra_fields[c]):
                props[fname] = int(uid[i] % (7 + j))
            lines.append(json.dumps(
                {"collection": c, "properties": props, "api": {"uuid": f"s{seed}-e{e}-{i}"}}
            ))
            counts[c] += 1
            users[c].add(props["_user"])
        if n_dup:
            picks = rng.choice(len(sent_lines), n_dup, replace=False)
            dup_lines = [sent_lines[p] for p in picks]
        else:
            dup_lines = []
        sent_lines.extend(lines)
        batch = lines + dup_lines
        order = rng.permutation(len(batch))
        path = os.path.join(out_dir, f"epoch{e:03d}.json")
        with open(path, "w") as f:
            f.write("\n".join(batch[k] for k in order) + "\n")
        epochs.append(Epoch(
            path, len(batch), n_dup,
            {c: (counts[c], len(users[c])) for c in STREAM_COLLECTIONS}, new, malformed,
        ))
    return epochs


# --- query_mix -------------------------------------------------------------

WORDS = (
    "a the join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big sort "
    "query fast"
).split()
ADJ = ("small", "large", "red", "blue", "hot", "cold", "shiny", "old")
NOUN = ("ring", "bolt", "gear", "widget", "nut", "pipe", "valve", "spring")


def analytics_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The ten tables the declared queries read (``tables.TABLE_NAMES``),
    with the column names, physical types and value domains of the
    repository's test data, at scale factor ``sf``.  Returns row
    counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vec = max(20, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")

    def strs(fmt: str, keys):
        return pa.array([fmt.format(int(k)) for k in keys], pa.string())

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": strs("NATION_{}", range(25)),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": strs("Customer#{:09d}", range(n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": strs("Supplier#{:09d}", range(n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
    }
    pk = np.arange(n_part)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    tables["part"] = {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
        "p_brand": strs("Brand#{}", rng.integers(1, 26, n_part)),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    }
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(1.0, 2.1, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_line), pa.timestamp("us")),
    }
    ev_ts = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": strs('{{"k": {}}}', rng.integers(0, 100, n_ev)),
    }
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": strs("src{}", np.arange(n_docs) % 20),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
