"""Seeded input generators for the benchmark workloads.

Everything the engine sees is produced here from the workload seed, as
parquet files written with pyarrow (no Spark involved), so the same
seed gives byte-identical files and the engine under test never
generates its own inputs.

- ``write_analytics_inputs``: the TPC-H-ish tables the 11 headline
  catalog queries read, with the same column names and types as the
  engine's test data (clean two-decimal money columns, naive
  microsecond timestamps), so every catalog entry's DuckDB oracle
  applies unchanged.
- ``MedallionSource``: the Spotify star-schema source system
  (``config.TABLES`` schemas) as a sequence of daily extracts, plus a
  brute-force model of what the gold layer must hold after each one.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale 1.0: half the engine's sf0.1 test data, the
# largest size at which the analytics runs of the benchmark (set-up,
# cold pass, three warm passes and the oracle checks) stay near a
# minute on 4 cores; at sf0.1 the checks alone take 19 s.
ANALYTICS_ROWS = {
    "customer": 7_500,
    "part": 10_000,
    "orders": 75_000,
    "lineitem": 300_000,
    "events": 50_000,
    "documents": 2_500,
    "embeddings": 1_000,
}

_VOCAB = (
    "a the and of to is data query table row column scan join merge batch "
    "stream window agg group order sort key value hash filter spark line "
    "part customer vector small big fast slow index file log commit").split()


def _write(path: Path, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    day = np.timedelta64(86_400_000_000, "us")
    return pa.array(base + rng.integers(0, n_days, n) * day, pa.timestamp("us"))


def write_analytics_inputs(out_dir: Path, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the analytics tables to ``out_dir/<table>.parquet``;
    returns rows per table."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n = {t: max(20, int(r * scale)) for t, r in ANALYTICS_ROWS.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -99999, 999999, nc),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ).tolist(),
    })
    np_ = n["part"]
    adjectives = ["small", "red", "large", "blue", "green", "steel", "brass"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 7, np_), rng.integers(0, 7, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], np_
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 100000, 50000000, no),
        "o_orderdate": _days(rng, "1995-01-01", 2400, no),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ).tolist(),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 90000, 10500000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["O", "F"], nl).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", 2500, nl),
    })
    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, ne)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], ne).tolist(),
        "value": _money(rng, 1, 49000, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.1:  # exact duplicates for dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 80)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    emb = (rng.standard_normal((nv, 64)) * 0.1).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    for name, t in tables.items():
        _write(out_dir / f"{name}.parquet", t)
    return {name: t.num_rows for name, t in tables.items()}


# -- medallion ---------------------------------------------------------------

T0 = dt.datetime(2025, 1, 1)
_COUNTRIES = ["US", "DE", "FR", "IN", "BR", "JP"]
_GENRES = ["Pop", "Rock", "Jazz", "Classical", "Hip-Hop", "Electronic"]
_SUBS = ["Free", "Premium", "Family"]
_DEVICES = ["Mobile", "Desktop", "Smart Speaker"]
_ARROW = {
    "IntegerType": pa.int32(),
    "LongType": pa.int64(),
    "StringType": pa.string(),
    "DateType": pa.date32(),
    "TimestampType": pa.timestamp("us", tz="UTC"),
}
START_AT, END_AT = "__START_AT", "__END_AT"

# Rows at scale 1.0, the engine's Spotify fixture at scale 50: the
# initial load (125k rows with the 365 dates), then per daily extract
# updates of live keys (fact_stream: new plays, and a twentieth as many
# corrections) and new dimension keys (about 24k rows).
MEDALLION_BASE = {"dim_user": 25_000, "dim_artist": 25_000, "dim_track": 25_000,
                  "fact_stream": 50_000}
MEDALLION_BATCH = {"dim_user": 2_500, "dim_artist": 2_500, "dim_track": 2_500,
                   "fact_stream": 15_000}
MEDALLION_NEW = {"dim_user": 1_000, "dim_artist": 100, "dim_track": 100}


class MedallionSource:
    """Daily extracts of the star-schema source system, and the gold
    state they must produce.

    Day 0 is the initial load. Every later extract has the same shape:
    for each dimension but ``dim_date`` and for the fact table, updates
    of live keys (each update changes a tracked attribute, so it is a
    new SCD2 version), new keys, one key changed twice within the
    extract, one stale row older than the table's ingest watermark and
    one row with a NULL business key, shuffled; ``dim_date`` gets only a
    stale row, so its flows find no new data. ``delete_statements``
    picks users to delete from silver through SQL.

    The model (``gold_rows``, ``report_rows``) follows the engine's
    documented contract: watermark ingest drops rows at or below the
    table's max ingested CDC value, the gold expectations drop NULL
    keys, SCD2 chains every accepted change of a key by sequence and a
    deleted key's open version is closed at its own start, SCD1 keeps
    the latest change per key.
    """

    def __init__(self, configs, seed: int, scale: float = 1.0):
        self.cfg = {c.table: c for c in configs}
        self.rng = random.Random(seed)
        self.scale = scale
        self.wm: dict[str, object] = {}
        # table -> key -> [(seq, row)] of accepted changes
        self.events: dict[str, dict] = {t: {} for t in self.cfg}
        self.deleted: dict[str, set] = {t: set() for t in self.cfg}
        self.next_key = {t: 1 for t in self.cfg}
        self.source_rows = 0
        self._refs: dict[str, list] = {}  # live keys of referenced tables

    def _n(self, base: int) -> int:
        return max(2, int(base * self.scale))

    def _live(self, table: str) -> list:
        return [k for k in self.events[table] if k not in self.deleted[table]]

    def _row(self, table: str, key, seq, tag: str) -> tuple:
        r = self.rng
        if table == "dim_user":
            return (key, f"user {key} {tag}", r.choice(_COUNTRIES), r.choice(_SUBS),
                    dt.date(2023, 10, 1) + dt.timedelta(days=r.randint(0, 700)), None, seq)
        if table == "dim_artist":
            return (key, f"artist {key} {tag}", r.choice(_GENRES), r.choice(_COUNTRIES), seq)
        if table == "dim_track":
            return (key, f"track-{key}-{tag}", r.choice(self._refs["dim_artist"]),
                    f"album {r.randint(0, 59)}", r.randint(105, 342),
                    dt.date(2020, 1, 1) + dt.timedelta(days=r.randint(0, 2000)), seq)
        if table == "fact_stream":
            refs = self._refs
            return (key, r.choice(refs["dim_user"]), r.choice(refs["dim_track"]),
                    r.choice(refs["dim_date"]), r.randint(15, 309), r.choice(_DEVICES), seq)
        if table == "dim_date":
            d = seq
            return (key, d, d.day, d.month, d.year, d.strftime("%A"))
        raise KeyError(table)

    def _extract(self, table: str, day: int, n_upd: int, n_new: int) -> list[tuple]:
        r = self.rng
        base = T0 + dt.timedelta(days=day)
        clock = iter(range(1, 10**9))

        def seq() -> dt.datetime:
            return base + dt.timedelta(seconds=next(clock))

        tag = f"d{day}"
        self._refs = {t: self._live(t) for t in ("dim_user", "dim_artist", "dim_track", "dim_date")}
        live = self._live(table)
        keys = r.sample(live, min(n_upd, len(live)))
        keys += range(self.next_key[table], self.next_key[table] + n_new)
        self.next_key[table] += n_new
        rows = [self._row(table, k, seq(), tag) for k in keys]
        if keys:
            rows.append(self._row(table, keys[0], seq(), tag + "b"))  # changed twice
        if day > 0:
            rows.append(self._row(table, r.choice(live), T0 - dt.timedelta(days=30), "stale"))
        rows.append(self._row(table, None, seq(), "ghost"))
        r.shuffle(rows)
        return rows

    def extract(self, day: int) -> dict[str, list[tuple]]:
        """The source rows of day ``day`` (0 = initial load). Updates
        the model."""
        out: dict[str, list[tuple]] = {}
        if day == 0:
            dates = [dt.date(2024, 10, 7) + dt.timedelta(days=i) for i in range(365)]
            out["dim_date"] = [self._row("dim_date", int(d.strftime("%Y%m%d")), d, "")
                               for d in dates]
        else:
            d = dt.date(2024, 1, 1)
            out["dim_date"] = [self._row("dim_date", int(d.strftime("%Y%m%d")), d, "")]
        self._accept("dim_date", out["dim_date"])
        for t in ("dim_user", "dim_artist", "dim_track", "fact_stream"):
            if day == 0:
                n_upd, n_new = 0, self._n(MEDALLION_BASE[t])
            elif t == "fact_stream":  # mostly new plays, a few corrections
                n_upd, n_new = self._n(MEDALLION_BATCH[t] // 20), self._n(MEDALLION_BATCH[t])
            else:
                n_upd, n_new = self._n(MEDALLION_BATCH[t]), self._n(MEDALLION_NEW[t])
            out[t] = self._extract(t, day, n_upd, n_new)
            self._accept(t, out[t])
        self.source_rows += sum(len(v) for v in out.values())
        return out

    def _accept(self, table: str, rows: list[tuple]) -> None:
        cfg = self.cfg[table]
        names = cfg.spark_schema.fieldNames()
        ki, si = names.index(cfg.keys[0]), names.index(cfg.cdc_col)
        wm = self.wm.get(table)
        fresh = [row for row in rows if wm is None or row[si] > wm]
        if fresh:
            self.wm[table] = max(row[si] for row in fresh)
        for row in fresh:
            if row[ki] is not None:
                self.events[table].setdefault(row[ki], []).append((row[si], row))

    def delete_statements(self, n: int = 3) -> list[str]:
        """Pick live users to delete from silver; updates the model."""
        keys = sorted(self.rng.sample(self._live("dim_user"), n))
        self.deleted["dim_user"].update(keys)
        return [f"DELETE FROM silver_dim_user WHERE user_id IN ({', '.join(map(str, keys))})"]

    def write(self, rows: dict[str, list[tuple]], out_dir: Path) -> dict[str, str]:
        """Write one extract as parquet; returns table -> file path."""
        out_dir.mkdir(parents=True, exist_ok=True)
        paths = {}
        for table, trows in rows.items():
            schema = self.cfg[table].spark_schema
            cols = list(zip(*trows))
            arrays = [pa.array(list(c), _ARROW[type(f.dataType).__name__])
                      for c, f in zip(cols, schema.fields)]
            p = out_dir / f"{table}.parquet"
            _write(p, pa.Table.from_arrays(arrays, names=schema.fieldNames()))
            paths[table] = str(p)
        return paths

    # -- expected gold state ------------------------------------------------
    def gold_rows(self, table: str) -> Counter:
        """Expected gold rows, as a multiset of tuples over sorted column
        names, so a duplicated row or version is a mismatch."""
        cfg = self.cfg[table]
        names = cfg.spark_schema.fieldNames()
        out: Counter = Counter()
        for key, evs in self.events[table].items():
            evs = sorted(evs, key=lambda e: e[0])
            if cfg.scd_type == 1:
                if key not in self.deleted[table]:
                    out[_norm_row(dict(zip(names, evs[-1][1])))] += 1
                continue
            for i, (s, row) in enumerate(evs):
                if i + 1 < len(evs):
                    end = evs[i + 1][0]
                else:
                    end = s if key in self.deleted[table] else None
                out[_norm_row({**dict(zip(names, row)), START_AT: s, END_AT: end})] += 1
        return out

    def _current(self, table: str) -> dict:
        names = self.cfg[table].spark_schema.fieldNames()
        return {
            k: dict(zip(names, max(evs, key=lambda e: e[0])[1]))
            for k, evs in self.events[table].items() if k not in self.deleted[table]
        }

    def report_rows(self) -> Counter:
        """Expected ``top_genres_by_listen_time`` rows (per month), as a
        multiset."""
        track, artist = self._current("dim_track"), self._current("dim_artist")
        dates = self._current("dim_date")
        acc: dict[tuple, list[int]] = {}
        for f in self._current("fact_stream").values():
            t = track.get(f["track_id"])
            a = artist.get(t["artist_id"]) if t else None
            d = dates.get(f["date_key"])
            if a is None or d is None:
                continue
            g = acc.setdefault((a["genre"], d["year"], d["month"]), [0, 0])
            g[0] += f["listen_duration"]
            g[1] += 1
        return Counter(
            _norm_row({"genre": k[0], "year": k[1], "month": k[2],
                       "total_listen_sec": v[0], "n_streams": v[1]})
            for k, v in acc.items()
        )


def _norm_row(d: dict) -> tuple:
    return tuple((k, d[k]) for k in sorted(d))
