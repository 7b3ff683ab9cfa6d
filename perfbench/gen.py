"""Seeded input generators for the benchmark workloads.

Everything here runs before the timed region and writes plain files;
the engine under test receives only those files. The same seed always
gives byte-identical inputs.

Two generators:

- ``make_sf_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` in the shapes the query registry
  reads (one parquet file per table, the layout of the test data
  described in ``TESTDATA.md``/``FIXTURES.md`` §2).
- ``make_etl_inputs``: dirty spotify-shaped CSV batches, events-shaped
  micro-batch parquet files and a cowtable upsert batch for the
  medallion write path (``FIXTURES.md`` §1/§3).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(path: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def make_sf_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale ``sf`` into ``out_dir``
    (``<table>.parquet`` each); returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    rows: dict[str, int] = {}

    rows["region"] = _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    rows["customer"] = _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    rows["supplier"] = _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adjs = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
    nouns = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    names = np.array([f"{a} {n}" for a in adjs for n in nouns])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    rows["part"] = _write(p("part"), {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    rows["orders"] = _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    rows["lineitem"] = _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * US_PER_DAY),
    })
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    rows["events"] = _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    rows["documents"] = _write(p("documents"), _documents(rng, n_docs))
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return rows


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents: ~5% near-duplicates of an earlier doc
    (tagged with a ``dup`` marker word) and a few exact duplicates, so
    every dedup family has something to find."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            base = texts[rng.integers(0, i)].split()
            j = rng.integers(0, len(base))
            base[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(base) + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


# --------------------------------------------------------------------------
# medallion_etl inputs
# --------------------------------------------------------------------------

#: Column order of ``SPOTIFY_CSV_SCHEMA`` (the CSV header).
CSV_COLUMNS = [
    "index", "track_id", "artists", "album_name", "track_name", "popularity",
    "duration_ms", "explicit", "danceability", "energy", "key", "loudness",
    "mode", "speechiness", "acousticness", "instrumentalness", "liveness",
    "valence", "tempo", "time_signature", "track_genre",
]
MEDIAN_COLS = [
    "popularity", "duration_ms", "danceability", "energy", "loudness",
    "speechiness", "acousticness", "instrumentalness", "liveness", "valence",
    "tempo",
]
MODE_COLS = ["artists", "album_name", "track_name", "track_genre"]
#: Columns the silver transform clamps: the only ones that may arrive
#: out of range. ``loudness`` and ``tempo`` are validated by the silver
#: suite but not clamped, so they stay in range.
CLAMPED = {
    "popularity": (0, 100),
    "danceability": (0.0, 1.0), "energy": (0.0, 1.0),
    "speechiness": (0.0, 1.0), "acousticness": (0.0, 1.0),
    "instrumentalness": (0.0, 1.0), "liveness": (0.0, 1.0),
    "valence": (0.0, 1.0),
}


@dataclass
class EtlInputs:
    csv_base: str
    csv_append: str
    events_dir: str
    upserts: str
    rows_csv: int
    rows_events: int
    rows_upserts: int
    input_bytes: int


def _spotify_batch(
    rng: np.random.Generator, n: int, first_index: int, key_pool: np.ndarray
) -> list[list]:
    """``n`` dirty spotify rows: track_ids drawn with replacement from
    ``key_pool`` (duplicates within the batch), NULLs in every median
    and mode column, out-of-range values in clamped columns only."""
    cols: dict[str, list] = {}
    cols["index"] = list(range(first_index, first_index + n))
    cols["track_id"] = list(key_pool[rng.integers(0, len(key_pool), n)])
    artists = np.array([f"Artist{i}" for i in range(200)])
    # skewed draw: a unique mode, like real catalogues
    skew = np.minimum(rng.geometric(0.05, n) - 1, 199)
    cols["artists"] = list(artists[skew])
    cols["album_name"] = [f"Album{i}" for i in np.minimum(rng.geometric(0.02, n), 999)]
    cols["track_name"] = [f"Song{i}" for i in np.minimum(rng.geometric(0.01, n), 4999)]
    cols["popularity"] = list(rng.integers(0, 101, n))
    cols["duration_ms"] = list(rng.integers(60_000, 400_000, n))
    cols["explicit"] = list(rng.random(n) < 0.2)
    for c in ["danceability", "energy", "speechiness", "acousticness",
              "instrumentalness", "liveness", "valence"]:
        cols[c] = list(np.round(rng.random(n), 4))
    cols["key"] = list(rng.integers(0, 12, n))
    cols["loudness"] = list(np.round(rng.uniform(-59.0, -0.5, n), 3))
    cols["mode"] = list(rng.integers(0, 2, n))
    cols["tempo"] = list(np.round(rng.uniform(40.0, 220.0, n), 3))
    cols["time_signature"] = list(np.array([4, 4, 4, 4, 3, 5, 1])[rng.integers(0, 7, n)])
    genres = np.array([f"genre{i}" for i in range(40)])
    cols["track_genre"] = list(genres[np.minimum(rng.geometric(0.08, n) - 1, 39)])
    for c, (lo, hi) in CLAMPED.items():
        bad = rng.random(n) < 0.01
        span = hi - lo
        for i in np.nonzero(bad)[0]:
            v = hi + span * rng.uniform(0.1, 1.0) if rng.random() < 0.5 else lo - span * rng.uniform(0.1, 1.0)
            cols[c][i] = int(v) if c == "popularity" else round(float(v), 4)
    for c in MEDIAN_COLS + MODE_COLS:
        for i in np.nonzero(rng.random(n) < 0.02)[0]:
            cols[c][i] = None
    return [[cols[c][i] for c in CSV_COLUMNS] for i in range(n)]


def _csv_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    return str(v)


def _write_csv(path: str, rows: list[list]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(",".join(CSV_COLUMNS) + "\n")
        for r in rows:
            fh.write(",".join(_csv_cell(v) for v in r) + "\n")


def make_etl_inputs(
    out_dir: str, seed: int, n_base: int, n_append: int,
    n_event_files: int, events_per_file: int, n_upserts: int,
) -> EtlInputs:
    """Write the ``medallion_etl`` inputs into ``out_dir``:

    - ``base.csv`` (``n_base`` rows) and ``append.csv`` (``n_append``
      rows): track_ids repeat within each batch, and the append batch
      reuses about half of the base batch's ids;
    - ``events/part-NNNN.parquet``: ``n_event_files`` time-ordered
      micro-batches of events with duplicate ``event_id``s inside and
      across files;
    - ``upserts.parquet``: silver-shaped rows keyed by ``track_id``,
      half matching existing keys and half new.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    base_keys = np.array([f"trk{i:07d}" for i in range(int(n_base * 0.97))])
    new_keys = np.array([f"trk{i:07d}" for i in range(len(base_keys), len(base_keys) + n_append)])
    append_pool = np.concatenate([base_keys[: n_append // 2], new_keys[: n_append // 2]])
    csv_base = os.path.join(out_dir, "base.csv")
    csv_append = os.path.join(out_dir, "append.csv")
    _write_csv(csv_base, _spotify_batch(rng, n_base, 0, base_keys))
    _write_csv(csv_append, _spotify_batch(rng, n_append, n_base, append_pool))

    events_dir = os.path.join(out_dir, "events")
    os.makedirs(events_dir)
    n_users = max(10, events_per_file // 20)
    span_us = US_PER_DAY // n_event_files
    next_id = 0
    for f in range(n_event_files):
        n = events_per_file
        ids = np.arange(next_id, next_id + n)
        next_id += n
        dup = rng.random(n) < 0.03  # replays: an id from this or an earlier file
        ids[dup] = rng.integers(0, next_id, int(dup.sum()))
        ts = np.sort(EPOCH_2024 + f * span_us + rng.integers(0, span_us, n))
        _write(os.path.join(events_dir, f"part-{f:04d}.parquet"), {
            "event_id": pa.array(ids, pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })

    upserts = os.path.join(out_dir, "upserts.parquet")
    matched = base_keys[rng.choice(len(base_keys), n_upserts // 2, replace=False)]
    fresh = np.array([f"new{i:07d}" for i in range(n_upserts - len(matched))])
    keys = np.concatenate([matched, fresh])
    _write(upserts, {
        "track_id": keys,
        "popularity": pa.array(rng.integers(0, 101, len(keys)), pa.int32()),
        "tempo": np.round(rng.uniform(40.0, 220.0, len(keys)), 3),
        "track_genre": [f"genre{g}" for g in rng.integers(0, 40, len(keys))],
    })

    input_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(out_dir) for f in fs
    )
    return EtlInputs(
        csv_base=csv_base, csv_append=csv_append, events_dir=events_dir,
        upserts=upserts, rows_csv=n_base + n_append,
        rows_events=n_event_files * events_per_file, rows_upserts=len(keys),
        input_bytes=input_bytes,
    )
