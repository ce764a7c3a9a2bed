"""Seeded input generators for the benchmark.

Everything the program reads in a benchmark run is written here, as files,
from a seed: the same seed and size give byte-identical files.

* ``write_tables`` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` (one Parquet file each, the layout
  ``sources.tables`` reads), with the column types of the provisioned
  test data.
* ``HhsFeed`` — weekly HHS hospital-capacity CSVs and CMS quality-rating
  CSVs shaped like the real feeds: -999999 sentinels, ``NaN`` and blank
  cells, blank WKT points, same-week resubmissions, "Not Available"
  ratings, extra columns and a header order that changes from file to
  file. The feed also tracks the ground truth a correct load must
  produce (new keys per batch, rows per week partition).
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Column names and the -999999 sentinel are the program's own contract
# (sources.csvsrc / operators.ingest); they are repeated here so that the
# generator imports nothing from the program under test.
HHS_METRICS = (
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_avg",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
)
SENTINEL = "-999999"

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float, docs_sf: float | None = None) -> None:
    """Write the ten ``sources.tables.TABLES`` files for scale factor ``sf``
    (sf 0.1 = 600k lineitem rows, the size of the provisioned sf0.1 set).
    ``docs_sf`` sizes ``documents``/``embeddings`` separately (default sf)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs_sf = sf if docs_sf is None else docs_sf
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_events = max(200, int(1_000_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    adj = np.array(["large", "hot", "blue", "small", "steel", "green"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "nut", "plate"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")

    # Orders span 1995-01-01 .. 2001-08-01, so the report cutoff
    # (2000-06-01) falls inside the data and the newest weeks are dense.
    order_day = rng.integers(0, 2404, n_ord)
    order_date = (_EPOCH_1995 + order_day).astype("datetime64[us]")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(order_date),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_lineno = (np.arange(n_li) - starts + 1).astype(np.int32)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(l_lineno),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((_EPOCH_1995 + ship_day).astype("datetime64[us]")),
    }), f"{out_dir}/lineitem.parquet")

    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events)).astype(
        "timedelta64[us]"
    )
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_events)
        ],
        "value": _money(rng, 0.0, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), f"{out_dir}/events.parquet")

    _write_documents(rng, max(100, int(50_000 * docs_sf)), f"{out_dir}/documents.parquet")
    _write_embeddings(rng, max(100, int(20_000 * docs_sf)), f"{out_dir}/embeddings.parquet")


def _write_documents(rng: np.random.Generator, n: int, path: str) -> None:
    """Random-word documents with ~3% exact and ~6% near duplicates (one word
    replaced), so the dedup and decontamination passes find real matches."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.09:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def _write_embeddings(rng: np.random.Generator, n: int, path: str) -> None:
    """Unit-norm float32 vectors around ten label centroids (dim 64)."""
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = centers[label] + rng.normal(scale=0.8, size=(n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label),
    }), path)


# ---------------------------------------------------------------------------
# HHS weekly / CMS quality feeds
# ---------------------------------------------------------------------------

STATES = ("CA", "TX", "NY", "FL", "PA", "OH", "IL", "GA", "NC", "MI", "WA", "AZ")
FIRST_WEEK = dt.date(2021, 1, 1)  # a Friday, like every collection_week


@dataclass
class Batch:
    """One generated CSV plus the ground truth a correct load yields."""

    path: str
    nbytes: int
    week: dt.date
    pks: set[str]  # distinct hospital_pk values (rows of the week partition)
    locations: set[tuple]  # distinct location natural keys after dedup
    metrics: dict[str, tuple] = field(default_factory=dict)  # pk -> 8 values
    rows: int = 0  # data rows in the file


class HhsFeed:
    """Seeded hospital population plus per-week HHS and CMS CSV files.

    ``n_hospitals`` report each week (a few skip a week; a few new ones
    join). Location natural keys follow ``operators.ingest``: (city, state,
    zip_code, address, latitude, longitude) with latitude/longitude parsed
    from the WKT point, or NULL when the point is blank."""

    def __init__(self, out_dir: str, seed: int, n_hospitals: int):
        self.out_dir = out_dir
        self.seed = seed
        os.makedirs(out_dir, exist_ok=True)
        rng = np.random.default_rng([seed, 1])
        self._pop_rng = rng
        self.hospitals: list[dict] = []
        self._grow(n_hospitals)

    def _grow(self, n: int) -> None:
        rng = self._pop_rng
        for _ in range(n):
            k = len(self.hospitals)
            state = STATES[min(int(rng.exponential(3.0)), len(STATES) - 1)]
            self.hospitals.append({
                "hospital_pk": f"{k:06d}",
                "state": state,
                "hospital_name": f"HOSPITAL {k} MEDICAL CENTER",
                "address": "" if rng.random() < 0.01 else f"{int(rng.integers(1, 9999))} MAIN ST",
                "city": f"CITY_{state}_{int(rng.integers(0, 40))}",
                "zip": f"{int(rng.integers(501, 99950)):05d}",
                "fips_code": "" if rng.random() < 0.02 else f"{int(rng.integers(1000, 56999)):05d}",
                "lon": round(float(rng.uniform(-124.0, -67.0)), 6),
                "lat": round(float(rng.uniform(25.0, 49.0)), 6),
            })

    @staticmethod
    def week(i: int) -> dt.date:
        return FIRST_WEEK + dt.timedelta(days=7 * i)

    # -- HHS ---------------------------------------------------------------

    def write_history(self, out_dir: str, n_weeks: int, n_files: int = 8) -> None:
        """Weekly-fact rows for weeks [0, n_weeks) as ``n_files`` Parquet
        files of consecutive weeks: the published history the incremental
        loads land on. Several files give the publish job several input
        splits, as a real backfill has."""
        rng = np.random.default_rng([self.seed, 2])
        pks = np.array([h["hospital_pk"] for h in self.hospitals])
        ids, weeks = [], []
        for w in range(n_weeks):
            reporting = pks[rng.random(len(pks)) >= 0.02]
            ids.append(reporting)
            weeks.append(np.full(len(reporting), np.datetime64(self.week(w), "D")))
        ids_a, weeks_a = np.concatenate(ids), np.concatenate(weeks)
        vals = np.round(rng.uniform(0.0, 800.0, (len(ids_a), len(HHS_METRICS))), 1)
        cols = {"hospital_weekly_id": ids_a, "collection_week": pa.array(weeks_a)}
        cols.update({m: vals[:, j] for j, m in enumerate(HHS_METRICS)})
        table = pa.table(cols)
        os.makedirs(out_dir, exist_ok=True)
        step = -(-len(ids_a) // n_files)
        for k in range(n_files):
            _write(table.slice(k * step, step), os.path.join(out_dir, f"part-{k}.parquet"))
        self.history_rows = len(ids_a)

    def hhs_week(self, i: int, name: str | None = None) -> Batch:
        """The HHS CSV for week ``i``: every hospital minus ~2% non-reporters,
        ~0.3% new hospitals, ~1% same-week resubmissions."""
        rng = np.random.default_rng([self.seed, 3, i])
        self._grow(max(1, len(self.hospitals) // 300))
        day = self.week(i)
        rows, pks, locs = [], set(), set()
        for h in self.hospitals:
            if rng.random() < 0.02:
                continue
            blank_wkt = rng.random() < 0.02
            vals = [self._metric_cell(rng) for _ in HHS_METRICS]
            row = self._hhs_row(h, day, blank_wkt, vals)
            rows.append(row)
            if rng.random() < 0.01:  # resubmission: same pk, other numbers
                rows.append(self._hhs_row(
                    h, day, blank_wkt, [self._metric_cell(rng) for _ in HHS_METRICS]
                ))
            pks.add(h["hospital_pk"])
            locs.add(self.location_key(h, blank_wkt))
        path = os.path.join(self.out_dir, name or f"hhs_w{i:04d}.csv")
        nbytes = self._write_csv(path, rows, rng)
        return Batch(path, nbytes, day, pks, locs, rows=len(rows))

    def hhs_correction(self, loaded: Batch, i: int, frac: float = 0.05) -> Batch:
        """A re-issued subset of the loaded week ``i`` with new (valid)
        numbers for ~``frac`` of the hospitals it listed; ``metrics`` holds
        the values the fact must show afterwards."""
        rng = np.random.default_rng([self.seed, 4, i])
        day = self.week(i)
        rows, metrics = [], {}
        for h in self.hospitals:
            if h["hospital_pk"] not in loaded.pks or rng.random() >= frac:
                continue
            vals = tuple(round(float(rng.uniform(0.0, 800.0)), 1) for _ in HHS_METRICS)
            rows.append(self._hhs_row(h, day, False, [repr(v) for v in vals]))
            metrics[h["hospital_pk"]] = vals
        path = os.path.join(self.out_dir, f"hhs_w{i:04d}_fix.csv")
        nbytes = self._write_csv(path, rows, rng)
        return Batch(path, nbytes, day, set(metrics), set(), metrics, len(rows))

    @staticmethod
    def location_key(h: dict, blank_wkt: bool) -> tuple:
        lat = lon = None
        if not blank_wkt:
            lon, lat = float(f"{h['lon']:.6f}"), float(f"{h['lat']:.6f}")
        return (h["city"], h["state"], h["zip"], h["address"] or None, lat, lon)

    @staticmethod
    def _metric_cell(rng: np.random.Generator) -> str:
        r = rng.random()
        if r < 0.03:
            return SENTINEL
        if r < 0.04:
            return "NaN"
        if r < 0.05:
            return ""
        return repr(round(float(rng.uniform(0.0, 800.0)), 1))

    @staticmethod
    def _hhs_row(h: dict, day: dt.date, blank_wkt: bool, vals: list[str]) -> dict:
        row = {k: h[k] for k in ("hospital_pk", "state", "hospital_name", "address",
                                 "city", "zip", "fips_code")}
        row["geocoded_hospital_address"] = (
            "" if blank_wkt else f"POINT ({h['lon']:.6f} {h['lat']:.6f})"
        )
        row["collection_week"] = day.isoformat()
        row.update(zip(HHS_METRICS, vals))
        row.update({
            "ccn": h["hospital_pk"], "hospital_subtype": "Short Term",
            "is_metro_micro": "true", "total_beds_7_day_sum": "-999999",
            "previous_day_admission_adult_covid_confirmed_7_day_sum": "0",
            "fips_state": h["fips_code"][:2],
        })
        return row

    # -- CMS ---------------------------------------------------------------

    def cms_release(self, i: int) -> Batch:
        """The CMS quality CSV released with week ``i`` (rating_date = that
        week): ~90% of known hospitals plus ~3% facilities HHS never lists."""
        rng = np.random.default_rng([self.seed, 5, i])
        ratings = ("1", "2", "3", "4", "5", "Not Available", "", "6", "abc")
        emergency = ("Yes", "yes ", "NO", "No", "")
        owners = ("Government - Federal", "Proprietary", "Voluntary non-profit - Private")
        rows, ids = [], set()
        for h in self.hospitals:
            if rng.random() < 0.10:
                continue
            rows.append(self._cms_row(rng, h["hospital_pk"], h, ratings, emergency, owners))
            ids.add(h["hospital_pk"])
        for j in range(max(1, len(self.hospitals) * 3 // 100)):
            fid = f"X{i:04d}{j:05d}"
            fake = {"city": f"CITY_ZZ_{j % 7}", "state": "ZZ", "zip": f"{j:05d}"}
            rows.append(self._cms_row(rng, fid, fake, ratings, emergency, owners))
            ids.add(fid)
        path = os.path.join(self.out_dir, f"cms_w{i:04d}.csv")
        nbytes = self._write_csv(path, rows, rng)
        return Batch(path, nbytes, self.week(i), ids, set(), rows=len(rows))

    @staticmethod
    def _cms_row(rng, fid, h, ratings, emergency, owners) -> dict:
        weights = (0.12, 0.18, 0.25, 0.18, 0.1, 0.12, 0.03, 0.01, 0.01)
        return {
            "Facility ID": fid,
            "Facility Name": f"FACILITY {fid}",
            "City": h["city"],
            "State": h["state"],
            "ZIP Code": h["zip"],
            "Hospital Ownership": owners[int(rng.integers(0, len(owners)))],
            "Emergency Services": emergency[int(rng.integers(0, len(emergency)))],
            "Hospital Type": "Acute Care Hospitals",
            "Hospital overall rating": ratings[int(rng.choice(len(ratings), p=weights))],
            "Address": "1 MAIN ST", "County Name": "COUNTY", "Phone Number": "(555) 555-0100",
            "Hospital overall rating footnote": "",
        }

    @staticmethod
    def _write_csv(path: str, rows: list[dict], rng: np.random.Generator) -> int:
        """Write ``rows`` with the header in a seeded random order (extra
        columns included), as the real drops reorder and add columns."""
        header = list(rows[0]) if rows else []
        order = [header[j] for j in rng.permutation(len(header))]
        with open(path, "w", newline="") as fh:
            w = csv.DictWriter(fh, fieldnames=order, lineterminator="\n")
            w.writeheader()
            w.writerows(rows)
        return os.path.getsize(path)
