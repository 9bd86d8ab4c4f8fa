"""Seeded input generators for the benchmark.

Two generators, both pure functions of (seed, size parameters):

- ``gen_tables`` writes the ten query tables (a TPC-H-like star schema
  plus ``events``, ``documents`` and ``embeddings``) as parquet, in the
  column types and value shapes the registered queries read.
- ``gen_cron`` writes a cron cycle's inputs: the prior observation store
  and ECCC grid, WSC DataMart CSVs (the 10-column hourly hydrometric
  shape) re-staging a lookback that fully overlaps the stored tail, and
  one SWOB-ML XML file per station-hour. It returns the row counts the
  programme's products must have, which the benchmark asserts.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def table_rows(sf):
    """Row count of every table at scale factor ``sf``."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150000 * sf), "supplier": int(10000 * sf),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "documents": int(50000 * sf),
        "embeddings": max(500, int(20000 * sf)),
    }


def _days(rng, n, lo, hi):
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(lo) + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(out, seed, sf):
    """Write the ten query tables under ``out`` and return their row counts."""
    rng = np.random.default_rng(seed)
    rows = table_rows(sf)
    os.makedirs(out, exist_ok=True)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = rows["part"]
    keys = np.arange(n, dtype=np.int64)
    adj = np.array(P_ADJ)[rng.integers(0, 8, n)]
    noun = np.array(P_NOUN)[rng.integers(0, 8, n)]
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})
    n = rows["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, rows["customer"], n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
    n = rows["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, rows["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, rows["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, rows["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 100000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    n = rows["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = rows["documents"]
    texts = []
    for i in range(n):
        # one document in twenty is a near-duplicate of an earlier one
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 30, k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    n = rows["embeddings"]
    x = rng.normal(size=(n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"))
    return {k: v.num_rows for k, v in t.items()}


# ---- cron_cycle: WSC CSV + SWOB XML staging ------------------------------

WSC_HEADER = (" ID,Date,Water Level / Niveau d'eau (m),Grade,Symbol / Symbole,"
              "QA/QC,Discharge / Débit (cms),Grade,Symbol / Symbole,QA/QC\n")
PROVINCES = ["BC", "AB", "YT", "NT", "SK", "MB", "ON", "QC"]
SWOB_XML = """<om:ObservationCollection xmlns:om="http://dms.ec.gc.ca/schema/point-observation/2.0">
  <elements>
    <element name="air_temp" uom="degC" value="{ta}"/>
    <element name="avg_air_temp_pst1hr" uom="degC" value="{ta}"/>
    <element name="pcpn_amt_pst1hr" uom="mm" value="{pc}"/>
  </elements>
</om:ObservationCollection>
"""

# Shape of the hydrometric network (see README.md for why these sizes).
CRON_DEFAULTS = {
    "stations": 931,          # WSC stations, one reading every 5 minutes
    "stage_stations": 100,    # of which carry a water level (H)
    "cadence_min": 5,
    "store_hours": 14,        # stored span, ending at the store's newest reading
    "lookback_hours": 12,     # each cycle re-stages this much of the stored tail
    "swob_stations": 60,      # ECCC hourly grid
    "swob_hours": 12,         # re-staged SWOB hours per cycle (one file each)
    "workbook_stations": 120,
}
# The stored span ends here (local wall clock, which the WSC reader keeps):
# mid-month, so every tick touches exactly one month partition, and early
# in a day, so the stored span crosses midnight and the daily products
# hold two days.
STORE_END = dt.datetime(2024, 3, 15, 5, 55)


def _station_ids(rng, n, prefix_digits):
    ids = set()
    while len(ids) < n:
        d = int(rng.integers(1, 11))
        ids.add(f"{d:02d}{'ABCDEFGHJKLMN'[int(rng.integers(0, 13))]}"
                f"{'ABCDEFGHJKLMN'[int(rng.integers(0, 13))]}"
                f"{int(rng.integers(0, 10 ** prefix_digits)):0{prefix_digits}d}")
    return sorted(ids)


def _write_wsc(dirpath, stations, has_stage, q, h, gaps, times, lo):
    """One CSV per province holding readings [lo:] of every station's series."""
    os.makedirs(dirpath, exist_ok=True)
    stamps = [t.strftime("%Y-%m-%dT%H:%M:00-08:00") for t in times]
    nbytes = 0
    for p, prov in enumerate(PROVINCES):
        lines = [WSC_HEADER]
        for s in range(p, len(stations), len(PROVINCES)):
            sid = stations[s]
            for i in range(lo, len(times)):
                qv = "" if gaps[s, i] else f"{q[s, i]:.3f}"
                hv = f"{h[s, i]:.3f}" if has_stage[s] and not gaps[s, i] else ""
                lines.append(f"{sid},{stamps[i]},{hv},,,1,{qv},,,1\n")
        data = "".join(lines).encode("utf-8")
        with open(os.path.join(dirpath, f"{prov}_hourly_hydrometric.csv"), "wb") as f:
            f.write(data)
        nbytes += len(data)
    return nbytes


def _write_store(dirpath, stations, has_stage, q, h, gaps, times):
    """The prior store in ObsStore's layout (parquet partitioned by yyyymm
    and param; station, ts, value), holding exactly what ingesting the
    whole span's CSV would: a Q and an H row per reading, null where the
    CSV cell is empty. Timestamps are INT96, as Spark writes them."""
    n_st, n_t = q.shape
    ts = np.array([np.datetime64(t, "us") for t in times])
    month = np.array([t.strftime("%Y%m") for t in times])
    sid = np.repeat(np.array(stations), n_t)
    tsv = pa.array(np.tile(ts, n_st), pa.timestamp("us", tz="UTC"))
    values = {
        "Q": np.where(gaps, np.nan, q).ravel(),
        "H": np.where(gaps | ~has_stage[:, None], np.nan, h).ravel(),
    }
    months = np.tile(month, n_st)
    for mm in sorted(set(month)):
        sel = months == mm
        for param, v in values.items():
            part = os.path.join(dirpath, f"yyyymm={mm}", f"param={param}")
            os.makedirs(part, exist_ok=True)
            tab = pa.table({"station": sid[sel], "ts": tsv.filter(pa.array(sel)),
                            "value": pa.array(v[sel], from_pandas=True)})
            pq.write_table(tab, os.path.join(part, "part-00000.parquet"),
                           use_deprecated_int96_timestamps=True)


def _write_swob(dirpath, stations, hours, ta, pc, msng):
    os.makedirs(dirpath, exist_ok=True)
    nbytes = 0
    for s, sid in enumerate(stations):
        for j, hr in enumerate(hours):
            tav = "MSNG" if msng[s, j] else f"{ta[s, j]:.1f}"
            body = SWOB_XML.format(ta=tav, pc=f"{pc[s, j]:.1f}").encode("utf-8")
            with open(os.path.join(dirpath, f"{sid}_{hr:%Y%m%d%H}.xml"), "wb") as f:
                f.write(body)
            nbytes += len(body)
    return nbytes


def _write_grid(dirpath, stations, hours, ta, pc, msng):
    """The prior ECCC grid, as EcccTick writes it from the same SWOB files:
    a TA and a PC row per station-hour, ts = the UTC hour minus 8 h,
    "MSNG" as null, every cell read."""
    os.makedirs(dirpath, exist_ok=True)
    rows = {"station": [], "ts": [], "param": [], "value": [], "f_read": []}
    for s, sid in enumerate(stations):
        for j, hr in enumerate(hours):
            for param, v in (("TA", None if msng[s, j] else ta[s, j]), ("PC", pc[s, j])):
                rows["station"].append(sid)
                rows["ts"].append(hr - dt.timedelta(hours=8))
                rows["param"].append(param)
                rows["value"].append(v)
                rows["f_read"].append(True)
    tab = pa.table({"station": rows["station"],
                    "ts": pa.array(rows["ts"], pa.timestamp("us", tz="UTC")),
                    "param": rows["param"],
                    "value": pa.array(rows["value"], pa.float64()),
                    "f_read": rows["f_read"]})
    pq.write_table(tab, os.path.join(dirpath, "part-00000.parquet"),
                   use_deprecated_int96_timestamps=True)


def _cents(x, digits):
    """Values as they survive a round trip through their text form."""
    return np.vectorize(lambda v: float(f"{v:.{digits}f}"))(x)


def gen_cron(out, seed, p=None):
    """Write a cron cycle's inputs under ``out`` and return their sizes and
    the row counts the programme's products must have.

    Layout: ``store/`` and ``grid/`` (the prior store and ECCC grid),
    ``tick/wsc`` (the re-staged lookback: the last ``lookback_hours`` of
    the stored span, so the re-merge changes nothing) and ``tick/swob``
    (one XML file per station-hour, the same hours the grid holds).
    """
    p = dict(CRON_DEFAULTS, **(p or {}))
    rng = np.random.default_rng(seed)
    n_st, step = p["stations"], p["cadence_min"]
    n_t = p["store_hours"] * 60 // step
    n_look = p["lookback_hours"] * 60 // step
    assert n_look <= n_t, "the lookback must lie inside the stored span"
    times = [STORE_END - dt.timedelta(minutes=step * (n_t - 1 - i)) for i in range(n_t)]
    stations = _station_ids(rng, n_st, 3)
    has_stage = np.zeros(n_st, dtype=bool)
    has_stage[rng.choice(n_st, p["stage_stations"], replace=False)] = True
    base = rng.lognormal(3.0, 1.2, (n_st, 1))
    q = np.maximum(0.001, base * np.exp(np.cumsum(rng.normal(0, 0.01, (n_st, n_t)), axis=1)))
    q = _cents(q, 3)
    h = _cents(0.5 + np.log1p(q) / 3.0, 3)
    gaps = rng.random((n_st, n_t)) < 0.002
    _write_store(os.path.join(out, "store"), stations, has_stage, q, h, gaps, times)
    staged_wsc = _write_wsc(os.path.join(out, "tick", "wsc"), stations, has_stage,
                            q, h, gaps, times, n_t - n_look)
    swob_ids = [f"W{c1}{c2}" for c1 in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                for c2 in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"]
    swob_ids = sorted(rng.choice(swob_ids, p["swob_stations"], replace=False).tolist())
    last_hour = STORE_END.replace(minute=0) + dt.timedelta(hours=8)  # UTC
    hours = [last_hour - dt.timedelta(hours=p["swob_hours"] - 1 - j)
             for j in range(p["swob_hours"])]
    shape = (p["swob_stations"], p["swob_hours"])
    ta = _cents(rng.normal(5.0, 6.0, shape), 1)
    pc = _cents(np.maximum(0.0, rng.normal(0.0, 1.0, shape)), 1)
    msng = rng.random(shape) < 0.01
    _write_grid(os.path.join(out, "grid"), swob_ids, hours, ta, pc, msng)
    staged_swob = _write_swob(os.path.join(out, "tick", "swob"), swob_ids, hours,
                              ta, pc, msng)
    workbook = sorted(rng.choice(stations, p["workbook_stations"], replace=False).tolist())
    first_hour = times[0].replace(minute=0)
    n_hours = int((times[-1].replace(minute=0) - first_hour).total_seconds() // 3600) + 1
    n_days = (times[-1].date() - times[0].date()).days + 1
    return {
        "params": p,
        "workbook_stations": workbook,
        "staged_bytes": {"tick_wsc": staged_wsc, "tick_swob": staged_swob},
        "expect": {
            # the WSC reader emits a Q and an H row for every station reading
            "store_rows": 2 * n_st * n_t,
            "hourly_rows": 2 * n_st * n_hours,
            "daily_rows": 2 * n_st * n_days,
            # the model-input workbook has one row per day
            "daily_dates": n_days,
            # every SWOB file yields a TA and a PC row
            "grid_rows": 2 * p["swob_stations"] * p["swob_hours"],
            "pending": 0,
        },
    }
