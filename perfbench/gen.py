"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments give byte-identical files (numpy's PCG64 stream, pyarrow
parquet without timestamps in the metadata, JSON written with sorted
iteration). The program under test only ever sees the files written
here; the expectation files beside them are read by the harness.

    tables(out, seed, scale)   TPC-H-like star schema + events, documents
                               and embeddings (the sweep's ten tables)
    weather(out, seed, ...)    one single-line JSON doc per city per day in
                               the reference layout <date>/<city>.txt
    txn(out, seed, ...)        a seeded op log over the sweep's lineitem,
                               with the replayed expectation of every op
"""
import datetime as dt
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sweep's data is fixed: its expected results were checked once
# against the DuckDB oracle, so only the query order follows --seed.
SWEEP_DATA_SEED = 42
SWEEP_SCALE = 0.01

WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "a merge window order column join vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPE = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENT = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGION = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT = ["click", "signup", "error", "view", "purchase"]

_US_PER_DAY = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _day_us(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(seed=SWEEP_DATA_SEED, scale=SWEEP_SCALE):
    """Orders and their lines; (l_orderkey, l_linenumber) is unique."""
    rng = np.random.default_rng([seed, 7])
    n_orders = int(1_500_000 * scale)
    n_part, n_supp = int(200_000 * scale), int(10_000 * scale)
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    lnum = (np.arange(len(okey)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n = len(okey)
    odate = _day_us(1995, 1, 1) + rng.integers(0, 2404, n_orders) * _US_PER_DAY
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n) * _US_PER_DAY
    perm = rng.permutation(n)
    cols = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
    }
    arrays = {k: pa.array(v[perm]) for k, v in cols.items()}
    arrays["l_shipdate"] = _ts(ship[perm])
    return pa.table(arrays), odate, n_orders


def tables(out, seed=SWEEP_DATA_SEED, scale=SWEEP_SCALE):
    """Write the ten sweep tables as `<out>/<name>.parquet`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_events, n_docs, n_vec = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    li, odate, n_orders = lineitem(seed, scale)
    _write(li, f"{out}/lineitem.parquet")
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": REGION}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENT)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPE)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, n_orders)]}),
        f"{out}/orders.parquet")
    ts = np.sort(_day_us(2024, 1, 1) + rng.integers(0, 30 * _US_PER_DAY, n_events))
    _write(pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, n_events // 66), n_events),
        "event_type": np.array(EVENT)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(49.6, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.02:  # near-duplicate of an earlier doc
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            ws = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(ws))
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.8, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}), f"{out}/embeddings.parquet")


# --- weather -----------------------------------------------------------

CITIES = [  # name, region, country, lat, lon, tz_id, utc offset hours, mean temp
    ("London", "City of London, Greater London", "United Kingdom", 51.52, -0.11, "Europe/London", 1, 17.0),
    ("Tokyo", "Tokyo", "Japan", 35.69, 139.69, "Asia/Tokyo", 9, 28.0),
    ("Sydney", "New South Wales", "Australia", -33.88, 151.22, "Australia/Sydney", 10, 13.0),
    ("Paris", "Ile-de-France", "France", 48.87, 2.33, "Europe/Paris", 2, 21.0),
    ("Berlin", "Berlin", "Germany", 52.52, 13.4, "Europe/Berlin", 2, 20.0),
    ("Moscow", "Moscow City", "Russia", 55.75, 37.62, "Europe/Moscow", 3, 18.0),
    ("Madrid", "Madrid", "Spain", 40.4, -3.68, "Europe/Madrid", 2, 27.0),
    ("Rome", "Lazio", "Italy", 41.9, 12.48, "Europe/Rome", 2, 26.0),
    ("Cairo", "Al Qahirah", "Egypt", 30.05, 31.25, "Africa/Cairo", 3, 31.0),
]
CONDITIONS = [("Sunny", 1000), ("Partly cloudy", 1003), ("Cloudy", 1006),
              ("Overcast", 1009), ("Mist", 1030), ("Light rain", 1183)]
DIRS = ["N", "NNE", "NE", "ENE", "E", "ESE", "SE", "SSE", "S", "SSW", "SW",
        "WSW", "W", "WNW", "NW", "NNW"]


def _cities(n):
    out = list(CITIES[:n])
    for i in range(len(out), n):
        out.append((f"City{i:03d}", f"Region {i}", f"Country {i % 7}",
                    round(-60 + (i * 37 % 120) + 0.25, 2), round(-170 + (i * 53 % 340) + 0.5, 2),
                    f"Etc/GMT-{i % 12}", i % 12, 5.0 + (i * 7 % 25)))
    return out


def _doc(rng, city, day, epoch_noon):
    name, region, country, lat, lon, tz, off, mean = city
    local_epoch = epoch_noon + int(rng.integers(0, 3600))
    upd = local_epoch - local_epoch % 900
    loc = dt.datetime.fromtimestamp(local_epoch + off * 3600, dt.timezone.utc)
    updl = dt.datetime.fromtimestamp(upd + off * 3600, dt.timezone.utc)
    temp = round(mean + 4 * np.sin(day / 5.0) + float(rng.normal(0, 1.5)), 1)
    feels = round(temp + float(rng.normal(0, 0.8)), 1)
    wind_kph = round(float(rng.uniform(0, 40)), 1)
    gust_kph = round(wind_kph * 1.4 + float(rng.uniform(0, 5)), 1)
    precip = round(float(rng.exponential(0.3)), 1)
    vis = float(rng.choice([5.0, 8.0, 10.0]))
    pressure = float(round(1013 + rng.normal(0, 6)))
    text, code = CONDITIONS[int(rng.integers(0, len(CONDITIONS)))]
    is_day = 1
    return {
        "location": {"name": name, "region": region, "country": country,
                     "lat": lat, "lon": lon, "tz_id": tz,
                     "localtime_epoch": local_epoch,
                     "localtime": f"{loc:%Y-%m-%d} {loc.hour}:{loc:%M}"},
        "current": {
            "last_updated_epoch": upd, "last_updated": f"{updl:%Y-%m-%d %H:%M}",
            "temp_c": temp, "temp_f": round(temp * 9 / 5 + 32, 1), "is_day": is_day,
            "condition": {"text": text,
                          "icon": f"//cdn.weatherapi.com/weather/64x64/day/{code - 884}.png",
                          "code": code},
            "wind_mph": round(wind_kph / 1.609, 1), "wind_kph": wind_kph,
            "wind_degree": int(rng.integers(0, 360)),
            "wind_dir": DIRS[int(rng.integers(0, 16))],
            "pressure_mb": pressure, "pressure_in": round(pressure * 0.02953, 2),
            "precip_mm": precip, "precip_in": round(precip / 25.4, 2),
            "humidity": int(rng.integers(30, 100)), "cloud": int(rng.integers(0, 101)),
            "feelslike_c": feels, "feelslike_f": round(feels * 9 / 5 + 32, 1),
            "vis_km": vis, "vis_miles": round(vis / 1.609),
            "uv": float(rng.integers(1, 9)),
            "gust_mph": round(gust_kph / 1.609, 1), "gust_kph": gust_kph}}


def weather(out, seed, n_cities=9, backfill_days=7, tick_days=1):
    """Docs for the backfill and for each daily tick.

    Layout: `<out>/{backfill,ticks}/<date>/<city>.txt`, plus
    `<out>/expect.json` with each day's temp_c and localtime_epoch per city.
    Every day is later than the last, so latest-per-city is the last day.
    """
    rng = np.random.default_rng([seed, 2])
    cities = _cities(n_cities)
    start = dt.date(2023, 7, 1)
    expect = {"cities": [c[0] for c in cities], "backfill": [], "ticks": [], "days": {}}
    plan = ([("backfill", i) for i in range(backfill_days)] +
            [("ticks", backfill_days + i) for i in range(tick_days)])
    for phase, d in plan:
        day = start + dt.timedelta(days=d)
        date = day.isoformat()
        noon = int(dt.datetime(day.year, day.month, day.day, 12,
                               tzinfo=dt.timezone.utc).timestamp())
        os.makedirs(f"{out}/{phase}/{date}", exist_ok=True)
        expect[phase].append(date)
        expect["days"][date] = {}
        for c in cities:
            doc = _doc(rng, c, d, noon)
            with open(f"{out}/{phase}/{date}/{c[0]}.txt", "w") as f:
                f.write(json.dumps(doc))
            expect["days"][date][c[0]] = [doc["current"]["temp_c"],
                                          doc["location"]["localtime_epoch"]]
    with open(f"{out}/expect.json", "w") as f:
        json.dump(expect, f, sort_keys=True)
    return expect


# --- transactional table -------------------------------------------------

TXN_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate"]
# One block of the op log: every block holds each kind this many times,
# in a seeded order, so runs of whole blocks see the same mix.
TXN_BLOCK = [
    ("append", 2), ("merge", 2), ("delete", 1), ("delete_mor", 1),
    ("sql_update", 1), ("sql_delete", 1), ("sql_merge", 1), ("compact", 1), ("vacuum", 1),
    ("read_pruned", 3), ("point_lookup", 3), ("as_of", 2), ("meta_count", 2)]
# Vacuum keeps this many versions; time-travel reads look back at most
# three ops (at most two versions each), so they stay readable.
RETAIN_VERSIONS = 8


def row_sig(r):
    """Order-insensitive row signature, computed the same way by the
    harness in Spark: crc32 of the '|'-joined integer-coded columns."""
    ok, pk, sk, ln, q, p, d, t, rf, ls, sd = r
    s = (f"{ok}|{pk}|{sk}|{ln}|{round(q * 100)}|{round(p * 100)}|"
         f"{round(d * 100)}|{round(t * 100)}|{rf}|{ls}|{sd}")
    return zlib.crc32(s.encode())


class _Table:
    """Plain-Python replay of the table: rows keyed by (orderkey, line)."""

    def __init__(self, rows):
        self.rows, self.sig, self.per_order = {}, 0, {}
        for r in rows:
            self.put(r)

    def put(self, r):
        k = (r[0], r[3])
        if k in self.rows:
            self.drop(k)
        self.rows[k] = r
        self.sig += row_sig(r)
        self.per_order[r[0]] = self.per_order.get(r[0], 0) + 1

    def drop(self, k):
        r = self.rows.pop(k)
        self.sig -= row_sig(r)
        self.per_order[k[0]] -= 1
        if not self.per_order[k[0]]:
            del self.per_order[k[0]]

    def order_rows(self, ok):
        return [(ok, ln) for ln in range(1, 8) if (ok, ln) in self.rows]


def _rows_of(table):
    cols = [table.column(c).to_pylist() for c in TXN_COLS[:-1]]
    sd = table.column("l_shipdate").cast(pa.int64()).to_pylist()
    return list(zip(*cols, sd))


def _rows_table(rows):
    cols = list(zip(*rows)) if rows else [[] for _ in TXN_COLS]
    schema = [pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.float64(), pa.float64(),
              pa.float64(), pa.float64(), pa.string(), pa.string()]
    arrays = [pa.array(list(c), type=t) for c, t in zip(cols[:-1], schema)]
    arrays.append(pa.array(list(cols[-1]), type=pa.int64()).cast(pa.timestamp("us")))
    return pa.table(dict(zip(TXN_COLS, arrays)))


def txn(out, seed, n_blocks=2, scale=SWEEP_SCALE):
    """Base table + op log + the replayed expectation after every op.

    `<out>/base.parquet` is the sweep's lineitem. The log is `n_blocks`
    shuffled copies of TXN_BLOCK, each closed by its vacuum. Change sets land in
    `<out>/ops/NNNN.parquet`. `<out>/oplog.json` lists the ops; each
    carries `expect`: the row count and signature sum of the table after
    the op, and for reads the row count the read must return.
    """
    os.makedirs(f"{out}/ops", exist_ok=True)
    base, _, n_orders = lineitem(SWEEP_DATA_SEED, scale)
    _write(base, f"{out}/base.parquet")
    rows = _rows_of(base)
    tab = _Table(rows)
    del rows
    rng = np.random.default_rng([seed, 3])
    # vacuum closes each block, so the space left at the end of a block
    # does not depend on where in it the seed put the vacuum
    block = [k for k, n in TXN_BLOCK for _ in range(n) if k != "vacuum"]
    kinds = [k for _ in range(n_blocks)
             for k in [block[j] for j in rng.permutation(len(block))] + ["vacuum"]]
    next_key = n_orders
    n_part, n_supp = int(200_000 * scale), int(10_000 * scale)
    ops, history = [], []

    def recent_key():
        # skewed toward recent keys: distance back from the newest order
        back = int(rng.exponential(next_key * 0.05))
        return max(0, next_key - 1 - back)

    def new_line(ok, ln):
        return (ok, int(rng.integers(0, n_part)), int(rng.integers(0, n_supp)), ln,
                float(rng.integers(1, 51)), float(round(rng.uniform(900, 105000), 2)),
                int(rng.integers(0, 11)) / 100.0, int(rng.integers(0, 9)) / 100.0,
                ["A", "N", "R"][int(rng.integers(0, 3))], ["O", "F"][int(rng.integers(0, 2))],
                (_day_us(1995, 1, 1) // _US_PER_DAY + int(rng.integers(0, 2500))) * _US_PER_DAY)

    def changed(r):
        return r[:4] + (float(r[4] % 50 + 1),) + r[5:]

    for i, kind in enumerate(kinds):
        op = {"i": i, "kind": kind}
        if kind == "append":
            n = int(rng.integers(50, 200))
            new = [new_line(next_key + o, ln) for o in range(n)
                   for ln in range(1, int(rng.integers(1, 8)) + 1)]
            next_key += n
            op["file"] = f"ops/{i:04d}.parquet"
            _write(_rows_table(new), f"{out}/{op['file']}")
            op["bytes"] = os.path.getsize(f"{out}/{op['file']}")
            for r in new:
                tab.put(r)
        elif kind in ("merge", "sql_merge"):
            lo = recent_key()
            hi = min(next_key - 1, lo + int(rng.integers(20, 200)))
            upd = [changed(tab.rows[k]) for ok in range(lo, hi + 1) for k in tab.order_rows(ok)
                   if rng.random() < 0.5]
            ins = [new_line(ok, ln) for ok in range(lo, hi + 1) for ln in range(1, 8)
                   if (ok, ln) not in tab.rows and rng.random() < 0.05]
            op["file"] = f"ops/{i:04d}.parquet"
            op["lo"], op["hi"] = lo, hi
            _write(_rows_table(upd + ins), f"{out}/{op['file']}")
            op["bytes"] = os.path.getsize(f"{out}/{op['file']}")
            for r in upd + ins:
                tab.put(r)
        elif kind in ("delete", "sql_delete"):
            lo = recent_key()
            hi = min(next_key - 1, lo + int(rng.integers(5, 60)))
            op["lo"], op["hi"] = lo, hi
            for ok in range(lo, hi + 1):
                for k in tab.order_rows(ok):
                    tab.drop(k)
        elif kind == "delete_mor":
            keys = sorted({recent_key() for _ in range(int(rng.integers(5, 40)))})
            op["keys"] = keys
            for ok in keys:
                for k in tab.order_rows(ok):
                    tab.drop(k)
        elif kind == "sql_update":
            lo = recent_key()
            hi = min(next_key - 1, lo + int(rng.integers(5, 80)))
            op["lo"], op["hi"] = lo, hi
            for ok in range(lo, hi + 1):
                for k in tab.order_rows(ok):
                    r = tab.rows[k]
                    tab.put(r[:4] + (r[4] + 1.0,) + r[5:])
        elif kind == "compact":
            op["files"] = 8
        elif kind == "vacuum":
            op["retain"] = RETAIN_VERSIONS
        elif kind == "read_pruned":
            lo = recent_key()
            hi = min(next_key - 1, lo + int(rng.integers(10, 300)))
            op["lo"], op["hi"] = lo, hi
            op["rows"] = sum(tab.per_order.get(ok, 0) for ok in range(lo, hi + 1))
        elif kind == "point_lookup":
            op["key"] = recent_key()
            op["rows"] = tab.per_order.get(op["key"], 0)
        elif kind == "as_of":
            # a state a few ops back; the harness maps op index -> version
            back = min(len(history), 1 + int(rng.integers(0, 3)))
            op["at"] = history[-back][0] if history else -1
            op["rows"] = history[-back][1] if history else len(tab.rows)
        op["count"], op["sig"] = len(tab.rows), tab.sig
        history.append((i, len(tab.rows)))
        ops.append(op)
    with open(f"{out}/oplog.json", "w") as f:
        json.dump({"seed": seed, "block": len(block), "base_count": base.num_rows,
                   "ops": ops}, f, sort_keys=True)
    return ops
